#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run

1. builds the program (`src/main/scala`) and the harness
   (`perfbench/src`) with the Scala compiler that ships among the Spark
   jars the build file names, into `.bench_build/` (skipped when the
   sources are unchanged);
2. generates the workload's inputs from the seed (`gen.py`);
3. starts one JVM at `local[<cores>]` that sets up (session start,
   store builds, one warm pass; three times, median reported), runs a
   few untimed warm passes, times passes over the workload's registered
   rows for S seconds and writes every row's output
   (`src/perfbench/Main.scala`);
4. checks every output against its DuckDB oracle (`oracle.py`);
5. prints one JSON object as the last stdout line: the end-to-end
   metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

A traced run also writes its spans (row -> build/exec -> job -> stage,
one trace per pass and row) to `.bench_build/spans/<workload>-<seed>.jsonl`.

Each run works in its own directory under `.bench_build/runs/`, which is
also the JVM's `java.io.tmpdir`, `SPARK_LOCAL_DIRS` and working
directory; it is deleted at exit, after the bytes left in it are
reported.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

SETUPS = 3
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# `warm`: untimed passes after the set-ups, about 10 s on 4 cores: the
# passes were still getting faster until then.
# Each row is attributed to the module of the public function its
# builder calls; kernel work in graft.functions counts in that module.
WORKLOADS = {
    "lag_features": {
        "tables": {"events": 50000, "orders": 15000, "embeddings": 1000},
        "warm": 4,
        "rows": {
            "lag_1d": "lagops", "lag_long_format": "lagops",
            "lag_matrix_array": "lagops",
            "rolling_agg": "lagops", "asof_join": "plans",
            "stream_window_agg": "streaming",
        },
    },
    "neardup_batch": {
        "tables": {"documents": 3000, "embeddings": 2000},
        "warm": 2,
        "rows": {
            "dedup_minhash": "dedup", "embedding_neardup": "simops",
            "image_neardup": "multimodal", "corpus_clean": "pipeline",
            "warc_digest_dedup": "sources",
        },
    },
}
MODULES = ["lagops", "plans", "streaming", "dedup", "simops", "multimodal",
           "pipeline", "sources"]
LAYER_METRICS = [  # (name, unit, row-record key, scale)
    ("build_s", "s", "build_s", 1), ("exec_s", "s", "exec_s", 1),
    ("jobs", "count", "jobs", 1), ("eager_jobs", "count", "eager_jobs", 1),
    ("idle_s", "s", "idle_s", 1), ("task_cpu_s", "s", "task_cpu_s", 1),
    ("shuffle_write_mb", "MB", "shuffle_write_bytes", 1e-6),
    ("spill_mb", "MB", "spill_bytes", 1e-6),
    ("materialized_mb", "MB", "materialized_bytes", 1e-6),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the machine's memory in GiB, clamped to 2..8 (the test-suite rule)."""
    with open("/proc/meminfo") as f:
        kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return f"{min(8, max(2, kb // 2097152))}g"


def spark_jars():
    """The jar directory the program's build file puts on its classpath."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    src = os.path.join(ROOT, "src", "main", "scala")
    if not (os.path.isfile(build_sbt) and os.path.isdir(src)):
        fail("no program sources here: run from the repository root")
    with open(build_sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        fail(f"no Scala compiler among the jars in {jars}")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program and harness; returns the classpath."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes", h.hexdigest()[:16])
    cp = [os.path.join(out, "program"), os.path.join(out, "bench"), os.path.join(jars, "*")]
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "done")):
            return ":".join(cp)
        shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
        t0 = time.time()
        for files, dest, extra in ((prog, cp[0], []), (bench, cp[1], [cp[0]])):
            os.makedirs(dest)
            argfile = dest + ".args"
            with open(argfile, "w") as f:
                f.write("\n".join(files))
            r = subprocess.run(
                ["java", "-Xss8m", "-Xmx3g", "-cp", cp[2], "scala.tools.nsc.Main",
                 "-nowarn", "-d", dest, "-classpath", ":".join(extra + [cp[2]]),
                 "@" + argfile], capture_output=True, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
                fail(f"compile failed for {dest}")
        open(os.path.join(out, "done"), "w").close()
        log(f"built in {time.time() - t0:.1f} s")
    return ":".join(cp)


def dir_bytes(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(classpath, run_dir, wl, args):
    spec = ",".join(f"{r}:{m}" for r, m in WORKLOADS[wl]["rows"].items())
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local, os.path.join(run_dir, "results")):
        os.makedirs(d)
    log4j = os.path.join(run_dir, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write("rootLogger.level = warn\nrootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\nappender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex\n")
    # With the default initial heap (and with -Xms2g) the passes kept
    # getting faster for a minute and ran up to a third slower than with
    # a fixed heap, so the heap is fixed (-Xms = -Xmx). The
    # parallel collector with a fixed young generation keeps the
    # touched heap, and so peak_rss_mb, the same from run to run (G1
    # with a fixed heap peaked anywhere from 3.0 to 3.8 GB).
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC", "-Xmn1g",
        f"-Djava.io.tmpdir={tmp}", f"-Dlog4j.configurationFile={log4j}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        os.path.join(run_dir, "data"), spec, str(args.seconds), str(args.trace),
        str(SETUPS), str(WORKLOADS[wl]["warm"]), str(cores()), os.path.join(run_dir, "results"),
        os.path.join(run_dir, "result.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    if args.trace:
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        res["spans"] = os.path.join(BUILD, "spans", f"{wl}-{args.seed}.jsonl")
        os.replace(os.path.join(run_dir, "result.json.spans"), res["spans"])
    # what the run left in its scratch dirs: Spark removes its own block
    # dirs at stop, so anything here is a leak of the program's
    res["tmp_left"] = {n: dir_bytes(os.path.join(tmp, n)) for n in sorted(os.listdir(tmp))}
    res["local_left_bytes"] = dir_bytes(local)
    return res


def median(xs):
    return statistics.median(xs) if xs else 0.0


def failures(res, verdicts):
    """(attempted, failed) row executions over every timed pass: an
    execution fails when it threw or its row failed the oracle check."""
    executions = len(res["passes"]) + len(res["traced_passes"])
    bad = {r for r, v in verdicts.items() if v is not None}
    failed = executions * len(bad) + sum(1 for r in res["failures"] if r not in bad)
    return executions * len(verdicts), failed


def end_to_end(res, verdicts):
    rows = list(verdicts)
    passes = res["passes"]
    per_row = {r: median([p[r] for p in passes]) for r in rows}
    attempted, failed = failures(res, verdicts)
    metrics = {
        # one pass at each row's median time: a slow spell that hits
        # different rows in different passes moves this less than the
        # median of the pass sums
        "batch_s": (sum(per_row.values()), "s", len(passes)),
        "row_geomean_s": (math.exp(statistics.fmean(
            math.log(max(v, 1e-9)) for v in per_row.values())), "s", len(rows)),
        "setup_s": (median(res["setup_s"]), "s", len(res["setup_s"])),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
        "ok_frac": (1.0 - failed / attempted, "frac", attempted),
    }
    return metrics


def per_layer(res):
    layers = res["layers"]
    n = len(layers)
    metrics = {}
    for mod in MODULES:
        for name, unit, key, scale in LAYER_METRICS:
            metrics[f"{mod}.{name}"] = (median(
                [sum(r[key] for r in p if r["module"] == mod) * scale for p in layers]), unit, n)
    traced = [sum(p.values()) for p in res["traced_passes"]]
    untraced = [sum(p.values()) for p in res["passes"]]
    # task input metrics miss parquet's vectored reads (they bypass the
    # Hadoop statistics the metrics come from), so a row's input is the
    # larger of its tasks' input bytes and the sizes of the files it scans
    for p in layers:
        for r in p:
            r["row_input_bytes"] = max(r["input_bytes"], r["scanned_file_bytes"])
    zero_input = sorted({r["row"] for p in layers for r in p
                         if r["file_scans"] and r["row_input_bytes"] == 0})
    if zero_input:
        log(f"rows that scan files but count no input bytes: {zero_input}")
    metrics.update({
        "spark.tasks": (median([sum(r["tasks"] for r in p) for p in layers]), "count", n),
        "spark.gc_s": (median(res["traced_gc_s"]), "s", n),
        "spark.busy_frac": (median([sum(r["task_run_s"] for r in p) / (t * res["cores"])
                                    for p, t in zip(layers, traced)]), "frac", n),
        "spark.input_mb": (median([sum(r["row_input_bytes"] for r in p) * 1e-6 for p in layers]),
                           "MB", n),
        "spark.task_input_mb": (median([sum(r["input_bytes"] for r in p) * 1e-6 for p in layers]),
                                "MB", n),
        "spark.input_zero_rows": (len(zero_input), "count", n),
        "plan.exchanges": (median([sum(r["exchanges"] for r in p) for p in layers]), "count", n),
        "plan.reused_exchanges": (median([sum(r["reused_exchanges"] for r in p) for p in layers]),
                                  "count", n),
        "trace.overhead_s": (median(traced) - median(untraced), "s", n),
        "run.tmp_left_mb": (sum(res["tmp_left"].values()) * 1e-6, "MB", 1),
    })
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-row", help="self-check: damage this row's output before the check")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load1 = os.getloadavg()[0]
    jars = spark_jars()
    classpath = build(jars)

    import gen
    import oracle

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        phase = {"t0": time.time()}
        gen.generate(os.path.join(run_dir, "data"), args.seed, wl["tables"])
        phase["gen"] = time.time()
        res = run_jvm(classpath, run_dir, args.workload, args)
        phase["jvm"] = time.time()
        verdicts, check_times = oracle.check(
            os.path.join(run_dir, "data"), os.path.join(run_dir, "results"),
            list(wl["rows"]), cores(), args.corrupt_row)
        phase["check"] = time.time()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for r, v in verdicts.items():
        if v is not None:
            log(f"oracle check failed for {r}: {v[:300]}")
    attempted, failed = failures(res, verdicts)
    metrics = per_layer(res) if args.trace else end_to_end(res, verdicts)
    context = {"workload": args.workload, "seed": args.seed, "nproc": cores(),
               "master": res["master"], "heap": heap(), "heap_mb": res["heap_mb"],
               "loadavg_1m_start": load1, "rows": len(verdicts), "tables": wl["tables"],
               "setups_s": res["setup_s"], "setup_peak_rss_mb": res["setup_peak_rss_mb"],
               "phase_s": {k: round(phase[k] - phase[j], 2) for j, k in
                           (("t0", "gen"), ("gen", "jvm"), ("jvm", "check"))},
               "tmp_left_bytes": res["tmp_left"],
               "spark_local_left_bytes": res["local_left_bytes"],
               "spans": os.path.relpath(res.get("spans", ""), ROOT) if args.trace else None}
    print("context " + json.dumps(context))
    for r in verdicts:
        print(f"row {r} {median([p[r] for p in res['passes']]):.4f} s "
              f"oracle={'ok' if verdicts[r] is None else 'FAIL'} check={check_times[r]:.2f} s "
              f"passes={[round(p[r], 4) for p in res['passes']]}")
    print(f"passes {[round(sum(p.values()), 4) for p in res['passes']]}")
    for name, (value, unit, samples) in metrics.items():
        print(f"metric {name} {value:.6g} {unit} samples={samples}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
