package graft.sources

import org.apache.spark.sql.DataFrame

/** Write-side helpers — the handoff from the engine to downstream
  * consumers: JSONL corpora, and the task-commit protocol the raw WARC
  * and tar shard writers share.
  */
object Sinks {

  /** JSONL (one JSON object per line) sink — the interchange format
    * LLM-corpus tooling speaks: a narrow pass, gzip per part file. JSON
    * escaping makes the round-trip exact for arbitrary text (newlines,
    * quotes, unicode) — pinned by the oracle-gated `jsonl_roundtrip`
    * query, whose hash compare would catch any lossy encode.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** Schema-enforced JSONL read-back. The explicit schema is mandatory:
    * schema inference is a full extra pass over 100 TB and can widen
    * types on dirty rows; a fixed schema makes bad rows NULL out
    * (columnNameOfCorruptRecord stays available upstream) instead of
    * corrupting the frame's types.
    */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Task-commit protocol for raw-file sinks (WARC / tar shards), which
    * write bytes directly from tasks with no Hadoop OutputCommitter:
    * the payload streams to an ATTEMPT-UNIQUE temp name and renames
    * into place only after a fully successful write. Under speculative
    * execution two attempts of one partition then never interleave
    * bytes in the final file — each attempt owns its temp; rename is
    * atomic per attempt, and because shard bytes are deterministic
    * (same rows → same bytes) whichever attempt wins the rename leaves
    * an identical complete file. A failed attempt deletes its temp, so
    * a partial output never masquerades as a shard.
    */
  private[sources] def writeTaskFile(
      conf: org.apache.hadoop.conf.Configuration,
      finalPath: org.apache.hadoop.fs.Path)(
      write: java.io.OutputStream => Unit): Unit = {
    val fs = finalPath.getFileSystem(conf)
    val ctx = org.apache.spark.TaskContext.get()
    val attempt = if (ctx != null) ctx.taskAttemptId() else 0L
    val tmp = new org.apache.hadoop.fs.Path(finalPath.getParent,
      s".${finalPath.getName}.attempt-$attempt.tmp")
    val out = fs.create(tmp, true)
    var ok = false
    try { write(out); ok = true }
    finally {
      out.close()
      if (ok) commitTaskFile(fs, tmp, finalPath)
      else fs.delete(tmp, false)
    }
  }

  /** The commit step of [[writeTaskFile]], isolated so the
    * rename-failure contract is unit-testable: delete-then-rename
    * (HDFS/local rename refuses an existing destination; the loser of
    * a speculative race just drops its temp — the winner's file is
    * byte-identical). A rename failure is ONLY benign when the
    * winner's file is actually there; on a sole attempt (or when this
    * attempt just deleted the destination and then failed to rename)
    * a silent temp delete would lose the shard while the job still
    * writes `_SUCCESS` — that case must throw.
    */
  private[sources] def commitTaskFile(
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      finalPath: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(finalPath)) fs.delete(finalPath, false)
    if (!fs.rename(tmp, finalPath)) {
      fs.delete(tmp, false)
      if (!fs.exists(finalPath))
        throw new java.io.IOException(
          s"writeTaskFile: commit failed for $finalPath — rename " +
            "lost and no winner's file exists; the shard would be " +
            "silently dropped")
    }
  }

  /** Emit the `_SUCCESS` marker after a raw-file sink's job completes —
    * downstream readers can then distinguish a complete output
    * directory from the debris of a failed job.
    */
  private[sources] def markSuccess(
      conf: org.apache.hadoop.conf.Configuration, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, "_SUCCESS")
    val fs = p.getFileSystem(conf)
    fs.create(p, true).close()
  }
}
