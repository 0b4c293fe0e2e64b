"""Seeded input generator for the benchmark workloads.

Writes the parquet tables the registered rows read (`documents`,
`embeddings`, `events`, `orders`) in the layout of the project's test
tables (pyarrow, µs TIMESTAMP columns). The laws follow
`graft.ScaleGen`:

- documents are token soup over a Zipfian vocabulary: the 31 tokens of
  the project's test tables are the hot head (ranks 1-31) and
  `tok<rank>` tokens extend the tail to rank 4000, P(rank = r) ∝ 1/r;
- every 503rd document is a near-copy of its neighbour (same tokens
  plus " extra"), every 701st an exact copy of the document two ahead;
- every 211th embedding is its neighbour's vector plus 0.02-scale
  jitter;
- event timestamps are unique and µs-aligned: an odd multiplier maps
  the id bijectively into a 2^41-µs (~25-day) span.

Every hash is salted with the seed, so two seeds share row counts and
planted-duplicate rates but no values.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ZIPF_V = 4000.0
NEAR_EVERY, EXACT_EVERY, JITTER_EVERY = 503, 701, 211
BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z
SPAN_MASK = (1 << 41) - 1
ORDER_BASE_DAY = 9131  # 1995-01-01 in days since the epoch
ORDER_SPAN_DAYS = 2405

def _mix(x):
    """splitmix64 finaliser on a uint64 array."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class Hasher:
    """Seed-salted hash: h(salt, a, b) -> uint64 array."""

    def __init__(self, seed):
        with np.errstate(over="ignore"):
            self.key = _mix(np.array([seed & 0xFFFFFFFFFFFFFFFF],
                                     dtype=np.uint64))[0]

    def __call__(self, salt, *parts):
        with np.errstate(over="ignore"):
            acc = _mix(np.uint64(zlib.crc32(salt.encode())) ^ self.key)
            for p in parts:
                p = np.asarray(p).astype(np.uint64)
                acc = _mix(acc ^ (p * np.uint64(0x9E3779B97F4A7C15)))
            return acc

    def mod(self, salt, n, *parts):
        return (self(salt, *parts) % np.uint64(n)).astype(np.int64)


def _write(table, path, groups=8):
    # several row groups per file: a row group is the scan-parallelism
    # unit, and a one-group file would scan as a single task
    rows = max(1, -(-table.num_rows // groups))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def documents(h, n):
    ids = np.arange(n, dtype=np.int64)
    seed = np.where(ids % NEAR_EVERY == 0, ids + 1,
                    np.where(ids % EXACT_EVERY == 0, ids + 2, ids))
    lens = h.mod("len", 56, seed) + 20
    owner = np.repeat(np.arange(n), lens)
    pos = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens) + 1
    u = h.mod("tok", 1000000, seed[owner], pos) / 1000000.0
    rank = np.floor(np.power(ZIPF_V, u)).astype(np.int64)
    words = np.where(rank <= len(VOCAB),
                     np.array(VOCAB, dtype=object)[np.minimum(rank, len(VOCAB)) - 1],
                     np.char.add("tok", rank.astype(str)).astype(object))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    text = [t + " extra" if i % NEAR_EVERY == 0 else t
            for i, t in enumerate(text)]
    lang_u = h.mod("lang", 100, ids)
    lang = np.select([lang_u < 41, lang_u < 56, lang_u < 71, lang_u < 86],
                     ["en", "zh", "fr", "es"], "de")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(np.char.add("src", h.mod("src", 20, ids).astype(str)),
                           pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(h, n, dim=64):
    ids = np.arange(n, dtype=np.int64)
    planted = ids % JITTER_EVERY == 0
    seed = np.where(planted, ids + 1, ids)
    d = np.arange(dim)
    base = h.mod("e", 2001, seed[:, None], d[None, :]) / 1000.0 - 1.0
    jit = h.mod("j", 2001, ids[:, None], d[None, :]) / 1000.0 - 1.0
    vec = (base + jit * np.where(planted, 0.02, 0.0)[:, None]).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(h.mod("lab", 10, ids).astype(np.int32), pa.int32()),
    })


def events(h, n, users):
    ids = np.arange(n, dtype=np.int64)
    # an odd multiplier and an offset, both seed-derived, keep the map
    # bijective mod 2^41, so timestamps stay unique for every seed
    mult = int(h("tsmul", 0)) & SPAN_MASK | 1
    off = int(h("tsoff", 0)) & SPAN_MASK
    slot = (ids.astype(object) * mult + off) & SPAN_MASK
    ts = BASE_US + np.array(slot, dtype=np.int64)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(h.mod("u", users, ids), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[h.mod("et", len(EVENT_TYPES), ids)],
                               pa.string()),
        "value": pa.array(h.mod("v", 100000, ids) / 1000.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in h.mod("k", 100, ids)],
                          pa.string()),
    })


def orders(h, n, customers):
    ids = np.arange(n, dtype=np.int64)
    day = ORDER_BASE_DAY + h.mod("od", ORDER_SPAN_DAYS, ids)
    return pa.table({
        "o_orderkey": pa.array(ids, pa.int64()),
        "o_custkey": pa.array(h.mod("oc", customers, ids), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[h.mod("os", 3, ids)],
                                  pa.string()),
        "o_totalprice": pa.array(np.round(h.mod("ot", 49900000, ids) / 100.0 + 1000.0, 2),
                                 pa.float64()),
        "o_orderdate": pa.array(day * 86400000000, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[h.mod("op", 5, ids)],
                                    pa.string()),
    })


def generate(out_dir, seed, sizes):
    """Write every table named in `sizes` ({table: rows}) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    h = Hasher(seed)
    makers = {
        "documents": lambda n: documents(h, n),
        "embeddings": lambda n: embeddings(h, n),
        "events": lambda n: events(h, n, users=max(1, n * 15 // 1000)),
        "orders": lambda n: orders(h, n, customers=max(1, n // 10)),
    }
    for table, n in sorted(sizes.items()):
        _write(makers[table](n), os.path.join(out_dir, f"{table}.parquet"))
