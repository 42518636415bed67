package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextDedup}

/** Nightly dedup-index maintenance — the orchestration that keeps the
  * persistent dedup state current as the corpus refreshes, composing
  * the three primitives the way [[RunImport]] composes the import
  * pipelines: snapshot diff (q98) → LSH band-key index upkeep (q103's
  * machinery) → exact-hash index + sharded-Bloom upkeep (q71's
  * machinery). The whole tick costs O(changed docs), never O(corpus):
  * unchanged documents are never re-shingled, re-hashed, or
  * re-sketched.
  *
  * Persistent state (the artifacts a real deployment keeps in
  * parquet between ticks):
  *  - `bandIndex (id, band, key)` — the [[TextDedup.bandKeys]]
  *    relation; probe it with a new batch's band keys for LSH
  *    candidate lookup.
  *  - `hashIndex (h, cnt)` — normalized-content hash MULTIPLICITIES.
  *    The count (not a bare set) is what makes deletion exact with
  *    O(changed) work: a removed doc decrements, and the hash leaves
  *    the index only when no surviving doc carries it. `cnt > 0`
  *    projection IS the q71 `seenHashes (h)` set.
  *  - `bloomShards (shard, bf)` — the sharded Bloom prefilter built
  *    over the hash set. Blooms can't delete, so the tick rebuilds
  *    ONLY the shards whose membership changed (affected ∝ changed
  *    docs when `shards` is sized so each holds a bounded slice).
  *
  * Scale shape: the diff is a digest-only full-outer join (bodies
  * never shuffle); band upkeep is one 8-byte-id anti-join plus
  * signatures over `added ∪ changed` only; hash upkeep unions three
  * (h, cnt) relations and re-aggregates on the 8-byte hash; Bloom
  * upkeep re-aggregates only affected shards' hashes. */
object IndexMaintenance {

  /** The three persisted relations as one value. */
  final case class IndexState(
      bandIndex: DataFrame,
      hashIndex: DataFrame,
      bloomShards: DataFrame)

  /** Spark-side content hash matching [[TextDedup.exactDedup]]'s
    * normalization: md5-60-bit of lower(trim(text)). */
  private def contentHash(text: org.apache.spark.sql.Column) =
    TextDedup.md5Hash60(TextDedup.norm(text))

  /** Full rebuild from a snapshot — initial state construction, and
    * the equivalence baseline every maintained state must match. */
  def rebuild(
      snap: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 4,
      shards: Int = 16,
      numBitsPerShard: Int = 1 << 18,
      bloomHashes: Int = 7): IndexState = {
    val bandIndex = TextDedup.bandKeys(snap, idCol, textCol, numHashes, bands)
    val hashIndex = snap
      .select(contentHash(col(textCol)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    IndexState(bandIndex, hashIndex,
      bloomShards(hashIndex, shards, numBitsPerShard, bloomHashes))
  }

  /** Sharded Bloom sketches over the full hash set (used for the
    * initial build and for the affected shards each tick). */
  def bloomShards(
      hashIndex: DataFrame,
      shards: Int,
      numBitsPerShard: Int,
      bloomHashes: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    hashIndex
      .groupBy(pmod(col("h"), lit(shards.toLong)).cast("int").as("shard"))
      .agg(call_function("graft_bloom",
        col("h"), lit(numBitsPerShard), lit(bloomHashes)).as("bf"))
  }

  /** One nightly tick: bring `state` (built over `oldSnap`) to the
    * content of `newSnap`. Returns the updated state; every output
    * relation equals the corresponding [[rebuild]](newSnap) relation
    * (the spec and q127/q128 enforce this), at O(changed) cost.
    *
    * Band upkeep deliberately skips [[TextDedup.lshIndexDelta]]'s
    * old-side signature pass: an in-place index needs no `del` rows
    * keyed by OLD band keys — dropping every touched id and inserting
    * the fresh keys of `added ∪ changed` is the same result with half
    * the MinHash work (the op-delta form exists for shipping changes
    * to an EXTERNAL store). */
  def nightly(
      state: IndexState,
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 4,
      shards: Int = 16,
      numBitsPerShard: Int = 1 << 18,
      bloomHashes: Int = 7): IndexState = {
    // digest-only diff, materialized once (id + status rows; tiny)
    val diff = Curation.snapshotDiff(oldSnap, newSnap, idCol, textCol)
      .localCheckpoint()
    def ids(statuses: String*) =
      diff.filter(col("status").isin(statuses: _*)).select(col(idCol))

    // --- band-key index: drop every touched id, insert fresh keys
    val touched = ids("removed", "changed", "added")
      .select(col(idCol).as("id"))
    val freshKeys = TextDedup.bandKeys(
      newSnap.join(ids("added", "changed"), Seq(idCol)),
      idCol, textCol, numHashes, bands)
    val newBandIndex = state.bandIndex
      .join(touched, Seq("id"), "left_anti")
      .unionByName(freshKeys)

    // --- counted hash index: subtract leaving docs, add arriving ones
    val minus = oldSnap.join(ids("removed", "changed"), Seq(idCol))
      .select(contentHash(col(textCol)).as("h"))
      .groupBy(col("h")).agg((-count(lit(1))).as("cnt"))
    val plus = newSnap.join(ids("added", "changed"), Seq(idCol))
      .select(contentHash(col(textCol)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    val newHashIndex = state.hashIndex
      .unionByName(minus).unionByName(plus)
      .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > 0)

    // --- Bloom prefilter: rebuild ONLY shards whose membership moved
    val affected = minus.unionByName(plus)
      .select(pmod(col("h"), lit(shards.toLong)).cast("int").as("shard"))
      .distinct()
    val rebuilt = bloomShards(
      newHashIndex.join(affected,
        pmod(col("h"), lit(shards.toLong)).cast("int") === affected("shard"),
        "left_semi"),
      shards, numBitsPerShard, bloomHashes)
    val newBloom = state.bloomShards
      .join(affected, Seq("shard"), "left_anti")
      .unionByName(rebuilt)

    IndexState(newBandIndex, newHashIndex, newBloom)
  }

  /** Persisted-state layout under one state dir. */
  private val Parts = Seq("band_index", "hash_index", "bloom_shards")

  /** Load a persisted state (all three relations present) or None. */
  def load(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[IndexState] =
    graft.util.StateDirs.load(spark, stateDir, Parts)
      .map { case Seq(b, h, s) => IndexState(b, h, s) }

  /** Persist through [[graft.util.StateDirs.save]]; returns the rows
    * written per part: band index, hash index, Bloom shards. */
  def save(state: IndexState, stateDir: String): Seq[Long] =
    graft.util.StateDirs.save(stateDir,
      Parts.zip(Seq(state.bandIndex, state.hashIndex, state.bloomShards)))
}
