package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bloom-filter build/probe surfaced as session functions, wrapping
  * Spark's own runtime-filtering expressions (`BloomFilterAggregate` /
  * `BloomFilterMightContain` — the machinery behind Catalyst's injected
  * row-level runtime filters) rather than a driver-side sketch + UDF.
  *
  * Why this pair and not `df.stat.bloomFilter` + a Scala UDF probe:
  *   - the BUILD is a distributed partial aggregate (map-side partial
  *     blooms OR-merged on the reduce side), so the small side never
  *     funnels through the driver row-by-row;
  *   - the PROBE is a native Catalyst expression that stays inside
  *     whole-stage codegen and can sit directly in a scan's filter,
  *     so the big side is thinned AT THE SCAN before any shuffle —
  *     the property the 100 TB decontamination path needs.
  *
  * Values are hashed to longs with `xxhash64` on both sides (build and
  * probe must agree on the hash); the serialized filter travels as a
  * binary literal, exactly how Spark's own injected filters carry it.
  */
object Bloom {

  /** Aggregate building a serialized bloom filter over xxhash64(c).
    * `estItems`/`numBits` are capped by Spark's runtime-filter confs. */
  def build(c: Column, estItems: Long, numBits: Long): Column =
    Natives.call("bloom_build", xxhash64(c), lit(estItems), lit(numBits))

  /** Membership probe of xxhash64(c) against a serialized filter.
    * No false negatives; false-positive rate set by the build sizing. */
  def probe(bloomBytes: Array[Byte], c: Column): Column =
    Natives.call("bloom_probe", lit(bloomBytes), xxhash64(c))

  /** Run the build aggregate over `col` of `df` and return the serialized
    * filter, or None when the relation is empty (the aggregate yields
    * NULL). One distributed job; the result is numBits/8 bytes plus
    * framing (~1 MB at the default 8M bits). [[probe]] embeds those bytes
    * as a literal inside the scan filter, so the filter rides in every
    * serialized task of the big-side scan — acceptable at the default
    * sizing; for much larger filters switch the probe to a broadcast
    * variable + UDF (trading codegen for one-copy-per-executor) before
    * raising numBits. */
  def buildBytes(
      df: org.apache.spark.sql.DataFrame,
      c: Column,
      estItems: Long,
      numBits: Long
  ): Option[Array[Byte]] =
    Option(df.agg(build(c, estItems, numBits).as("bf")).head().getAs[Array[Byte]]("bf"))
}
