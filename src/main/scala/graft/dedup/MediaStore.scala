package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The persisted MEDIA fingerprint store — the artifact that closes
  * the O(increment) daily-ingest loop for the image and video
  * modalities, the same contract [[SignatureStore]] (text shingles /
  * winnow spans), [[BloomStore]] (exact fingerprints / lines) and
  * [[graft.simops.SemanticStore]] (embedding forest) provide for
  * theirs.
  *
  * Why it must exist: `image_neardup_incremental` computes the CORPUS
  * side's dHash fingerprints in-DAG — at deployment scale that
  * re-DECODES the entire media corpus per daily ingest, by far the
  * dominant cost (payload bytes ≫ everything else in a multimodal
  * corpus). The fingerprint is 8 bytes per media item and is a pure
  * function of the payload, so a real pipeline computes it once at
  * corpus-ingest time and persists it; every subsequent ingest then
  * pays O(increment) decode + a broadcast band probe against the
  * stored frame ([[Dedup.hammingIncremental]] — the store IS that
  * operator's corpus argument), and the corpus payloads are never
  * read again.
  *
  * The store is deliberately schema-agnostic: one parquet frame of
  * `(media_id, <fingerprint column>)` — `dhash` for images,
  * `clip_dhash` for videos — written by the caller's feature kernel
  * ([[graft.multimodal.Multimodal.dhashFeatures]] /
  * `videoDhashFeatures`). Nothing here depends on the modality; the
  * Hamming probe machinery downstream is already generic.
  */
object MediaStore {

  /** Persist the fingerprint frame (overwrite — the corpus-ingest
    * build). Plain columnar layout: the probe reads the store as the
    * STREAMED side of a broadcast join on the increment's band keys,
    * so scan parallelism (row groups) is what matters, not
    * co-location.
    */
  def write(fps: DataFrame, dir: String): Unit =
    fps.write.mode("overwrite").parquet(s"$dir/fingerprints")

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/fingerprints")

  /** Close the daily loop O(increment): append the ACCEPTED (is_new)
    * increment's fingerprints as new parquet files — no rewrite of
    * existing data, the store grows with the corpus without ever
    * re-decoding it. A retried ingest that appends the same media
    * twice is healed by [[compact]]; duplicate rows never change a
    * probe decision (the Hamming verify is per-pair), only bytes. No
    * row calls it or [[compact]] (the `_updated` rows union in-DAG);
    * MultimodalSpec "MediaStore: stored probe equals the in-DAG
    * incremental; ..." pins both.
    */
  def appendWrite(acceptedFps: DataFrame, dir: String): Unit =
    acceptedFps.write.mode("append").parquet(s"$dir/fingerprints")

  /** Dedup by media id and rewrite via the crash-safe rename-aside
    * protocol ([[SignatureStore.compactOne]]) — one scan of 16-byte
    * store rows, never a payload decode.
    */
  def compact(spark: SparkSession, dir: String): Unit =
    SignatureStore.compactOne(spark, s"$dir/fingerprints", Seq("media_id"))
}
