package graft.jobs

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The disk-backed frame-level video near-dup index must (1) reproduce a
  * plain-Scala reference of the v06 semantics under its FROZEN dictionary
  * (minDf = 1: build-time singletons stay pairable; the upper boilerplate
  * cap freezes), (2) accumulate state so a later batch pairs against
  * EARLIER batches, not just the build corpus — in both id directions —
  * (3) replay a re-delivered batch exactly, and (4) keep pairs intact
  * across compaction. Videos are composed of 32-byte blocks; with
  * stride 4 the sampled frames are blocks 0, 4, 8, so each video's
  * fingerprint set is spelled directly in the test data. */
class FrameIndexSpec extends SparkSpec {
  import spark.implicits._

  private def block(c: Char) = c.toString * 32
  /** a video whose SAMPLED frames are exactly blocks s0, s4, s8 (filler
    * 'z' blocks sit at the unsampled indices 1–3 and 5–7) */
  private def video(s0: Char, s4: Char, s8: Char): String =
    block(s0) + block('z') * 3 + block(s4) + block('z') * 3 + block(s8)

  /** the engine's fingerprint: md5 (lowercase hex) of the UTF-8 bytes of
    * the frame's UPPERCASE hex form */
  private def fps(text: String): Set[String] = {
    val bytes = text.getBytes("UTF-8")
    val nFrames = (bytes.length + 31) / 32
    (0 until nFrames by 4).map { i =>
      val frame = bytes.slice(i * 32, math.min(bytes.length, i * 32 + 32))
      val hexStr = frame.map("%02X".format(_)).mkString
      java.security.MessageDigest.getInstance("MD5")
        .digest(hexStr.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.toSet
  }

  /** frozen-dictionary reference: dictionary (df <= maxDf over `base`,
    * minDf 1) from the BUILD corpus only; pairs over stored ∪ fresh with
    * >= 1 fresh member; shared counts DICTIONARY frames, denominators are
    * the FULL sets. */
  private def ref(base: Seq[(Long, String)], stored: Seq[(Long, String)],
                  fresh: Seq[(Long, String)], maxDf: Int): Set[(Long, Long)] = {
    val df = base.flatMap { case (id, t) => fps(t).map(_ -> id) }
      .groupBy(_._1).map { case (f, v) => f -> v.map(_._2).distinct.size }
    val keep = df.filter(_._2 <= maxDf).keySet
    val all = (stored ++ fresh).map { case (id, t) => id -> fps(t) }
    val freshIds = fresh.map(_._1).toSet
    (for {
      (a, ga) <- all; (b, gb) <- all
      if a < b && (freshIds(a) || freshIds(b))
      shared = ga.intersect(gb).intersect(keep).size
      if shared > 0 && shared * 2 >= ga.size + gb.size - shared
    } yield (a, b)).toSet
  }

  private def media(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("media_id", "text")
      .select(col("media_id"), col("text").cast("binary").as("payload"))

  private def got(d: DataFrame): Set[(Long, Long)] =
    d.select("a_id", "b_id").as[(Long, Long)].collect().toSet

  // base corpus: v0/v1 share {A,B}; v2 carries {H,I}; v3–v6 all carry
  // boilerplate BB (df 4 > maxDf 3 → frozen OUT of the dictionary)
  private val base = Seq(
    0L -> video('A', 'B', 'C'),
    1L -> video('A', 'B', 'D'),
    2L -> video('H', 'I', 'G'),
    3L -> video('!', 'p', 'q'),
    4L -> video('!', 'r', 's'),
    5L -> video('!', 't', 'u'),
    6L -> video('!', 'v', 'w'))
  private val b1 = Seq(
    100L -> video('A', 'B', 'C'), // exact twin of v0, half-twin of v1
    101L -> video('H', 'I', 'J')) // pairs v2 via {H,I}; J unseen at build
  private val b2 = Seq(
    50L -> video('A', 'B', 'C'),  // LOW id: fresh-a/stored-b direction
    200L -> video('H', 'I', 'K'), // pairs v2 AND batch-1's v101 cross-batch
    201L -> video('!', 'm', 'n')) // shares only frozen-out boilerplate

  test("build + two appends: pairs accumulate under the frozen dictionary") {
    val path = Files.createTempDirectory("frame_index").toString
    FrameIndex.build(media(base), path, maxDf = 3)

    val p1 = got(FrameIndex.append(spark, path, 1L, media(b1)))
    assert(p1 == ref(base, base, b1, maxDf = 3), s"batch 1: $p1")
    assert(p1((0L, 100L)) && p1((1L, 100L)) && p1((2L, 101L)), s"$p1")

    val p2 = got(FrameIndex.append(spark, path, 2L, media(b2)))
    assert(p2 == ref(base, base ++ b1, b2, maxDf = 3), s"batch 2: $p2")
    // cross-batch: batch 2 pairs against batch 1's stored state
    assert(p2((101L, 200L)), "cross-batch pair missing — stored state did not grow")
    // fresh LOW id pairs in both directions, exactly once
    assert(p2((50L, 100L)) && p2((0L, 50L)), s"low-id fresh direction: $p2")
    // boilerplate frozen out: v201 shares only BB with v3–v6 → no pair
    assert(!p2.exists { case (a, b) => a == 201L || b == 201L },
      "boilerplate-only overlap generated a pair past the frozen cap")
    // nothing old×old re-emitted
    assert(p2.forall { case (a, b) => Set(50L, 200L, 201L)(a) || Set(50L, 200L, 201L)(b) })

    // crash/replay: re-delivering batch 1 reproduces its pairs exactly
    // (stored side is ingest_batch < 1, so batch 2 is invisible)
    val p1again = got(FrameIndex.append(spark, path, 1L, media(b1)))
    assert(p1again == p1, "replayed batch drifted")
    assert(spark.read.parquet(s"$path/framesets").count() ==
      (base ++ b1 ++ b2).size, "replay duplicated frame sets")
  }

  test("compact folds frame sets; appends after compact still match the reference") {
    val path = Files.createTempDirectory("frame_index_cpt").toString
    FrameIndex.build(media(base), path, maxDf = 3)
    got(FrameIndex.append(spark, path, 1L, media(b1)))
    assert(FrameIndex.compact(spark, path) == Seq(1L))
    // batch counter restarts above 0 after compact — the fold absorbed 1
    val p2 = got(FrameIndex.append(spark, path, 2L, media(b2)))
    assert(p2 == ref(base, base ++ b1, b2, maxDf = 3),
      "post-compact append diverged from the reference")
  }

  test("compact(refreshDictionary) restores from-scratch dictionary semantics") {
    // the measured drift (PERF.md round 12): frames
    // first seen AFTER build are invisible to the frozen whitelist, so
    // two post-build arrivals sharing only such frames never pair. The
    // opt-in compact-time refresh must recompute the dictionary from the
    // folded sets and restore exactly the from-scratch pair set.
    val path = Files.createTempDirectory("frame_index_drift").toString
    // Q and R are unseen in the build corpus — under the frozen
    // dictionary 300/301 (sharing {Q, R}, Jaccard 1/2) cannot pair
    val late = Seq(300L -> video('Q', 'R', 'S'), 301L -> video('Q', 'R', 'T'))
    FrameIndex.build(media(base), path, maxDf = 3)
    got(FrameIndex.append(spark, path, 1L, media(b1)))
    val p2 = got(FrameIndex.append(spark, path, 2L, media(late)))
    assert(!p2((300L, 301L)),
      "frozen dictionary unexpectedly knew a post-build frame")
    val fd = graft.operators.FrameDedup
    def dictSet() = spark.read.parquet(s"$path/dictionary")
      .collect().map(_.getString(0)).toSet
    // default compact: fold only, dictionary stays FROZEN (the family's
    // strict replay contract)
    val before = dictSet()
    assert(FrameIndex.compact(spark, path) == Seq(1L, 2L))
    assert(dictSet() == before, "plain compact touched the dictionary")
    // opt-in refresh (nothing left to fold — refresh still runs)
    assert(FrameIndex.compact(spark, path, refreshDictionary = true).isEmpty)
    val all = base ++ b1 ++ late
    val expected = fd.frameDictionary(
        fd.frameFingerprints(media(all)), minDf = 1, maxDf = 3)
      .collect().map(_.getString(0)).toSet
    assert(dictSet() == expected,
      "refreshed dictionary differs from the from-scratch dictionary")
    // and the refreshed dictionary yields the from-scratch pair set over
    // the folded frame sets — including the previously-missed late pair
    val sets = spark.read.parquet(s"$path/framesets").drop("ingest_batch")
    val pairs = got(fd.selfPairs(sets,
      spark.read.parquet(s"$path/dictionary"), 1, 2))
    assert(pairs((300L, 301L)), "refresh did not surface the drifted pair")
    assert(pairs == ref(all, all, all, maxDf = 3),
      "refreshed pair set diverged from the from-scratch reference")
  }

  test("dictionary swap is crash-safe: the refresh-promote gap leaves a readable dictionary") {
    // compact(refreshDictionary) swaps via rename-ASIDE: write refresh →
    // move dictionary to dictionary_old → promote refresh → drop old.
    // The one window with dictionary/ absent is between move-aside and
    // promote, where dictionary_refresh is complete. Simulate a crash at
    // exactly that point and assert (1) append still runs, reading the
    // refresh via the fallback, and (2) re-running the refresh compact
    // heals the layout back to a live dictionary/.
    val path = Files.createTempDirectory("frame_index_crash").toString
    FrameIndex.build(media(base), path, maxDf = 3)
    val p1 = got(FrameIndex.append(spark, path, 1L, media(b1)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$path/$s")
    // crash state: refresh fully written, live dir moved aside, promote
    // never happened (dictionary_old holds the pre-refresh copy)
    spark.read.parquet(s"$path/dictionary").write.parquet(s"$path/dictionary_refresh")
    assert(fs.rename(p("dictionary"), p("dictionary_old")))
    assert(!fs.exists(p("dictionary")))
    // (1) appends resumed mid-gap read the complete refresh copy
    val replay = got(FrameIndex.append(spark, path, 1L, media(b1)))
    assert(replay == p1, "append under the crash window diverged")
    // (2) a re-run refresh compact promotes and cleans both leftovers
    FrameIndex.compact(spark, path, refreshDictionary = true)
    assert(fs.exists(p("dictionary")), "heal did not restore dictionary/")
    assert(!fs.exists(p("dictionary_old")) && !fs.exists(p("dictionary_refresh")),
      "heal left swap leftovers behind")
    assert(got(FrameIndex.append(spark, path, 2L, media(b1.map {
      case (id, t) => (id + 900L, t) }))).nonEmpty)
  }

  test("refresh compact heals a promote-gap state BEFORE recomputing (double-crash hole)") {
    // The round-13 hole: from the gap state (dictionary/ absent,
    // dictionary_refresh the only complete copy) the healing compact used
    // to overwrite dictionary_refresh IN PLACE — a second crash mid-write
    // would leave no complete dictionary anywhere readDictionary looks.
    // The fix promotes the complete refresh to dictionary/ first; pin the
    // helper's two contracts directly.
    val path = Files.createTempDirectory("frame_index_heal").toString
    FrameIndex.build(media(base), path, maxDf = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$path/$s")
    // (1) gap state with a COMPLETE refresh (parquet write → _SUCCESS):
    // heal promotes it by rename, so the recompute can no longer destroy
    // the only copy
    spark.read.parquet(s"$path/dictionary").write.parquet(s"$path/dictionary_refresh")
    assert(fs.rename(p("dictionary"), p("dictionary_old")))
    FrameIndex.healDictionary(fs, path)
    assert(fs.exists(p("dictionary")), "heal did not promote the complete refresh")
    assert(!fs.exists(p("dictionary_refresh")), "heal copied instead of renaming")
    // (2) a PARTIAL refresh (no _SUCCESS — a crashed mid-write leftover)
    // must NOT be promoted: it is garbage for the recompute to overwrite
    fs.delete(p("dictionary_old"), true)
    assert(fs.rename(p("dictionary"), p("dictionary_old")))
    fs.mkdirs(p("dictionary_refresh"))
    fs.create(new org.apache.hadoop.fs.Path(s"$path/dictionary_refresh/part-0.parquet")).close()
    FrameIndex.healDictionary(fs, path)
    assert(!fs.exists(p("dictionary")), "heal promoted a partial refresh")
    // and the full compact from this inherited-broken state still recovers
    fs.delete(p("dictionary_old"), true)
    FrameIndex.compact(spark, path, refreshDictionary = true)
    assert(fs.exists(p("dictionary")) && !fs.exists(p("dictionary_refresh")),
      "refresh compact did not recover from the partial-refresh state")
  }

  test("rebuild over a dirty path clears appended batches and re-freezes the dictionary") {
    val path = Files.createTempDirectory("frame_index_rb").toString
    FrameIndex.build(media(base), path, maxDf = 3)
    FrameIndex.append(spark, path, 1L, media(b1))
    FrameIndex.build(media(base), path, maxDf = 3) // in-place rebuild from SOURCE
    assert(spark.read.parquet(s"$path/framesets").count() == base.size,
      "stale appended batch survived the rebuild")
    val p1 = got(FrameIndex.append(spark, path, 1L, media(b1)))
    assert(p1 == ref(base, base, b1, maxDf = 3), "post-rebuild append diverged")
  }

  test("batch gate parity: one build-corpus append equals FrameDedup.selfPairs on the union") {
    // the index's incremental scheme must agree with the batch operator
    // (v06's body) when the dictionary regimes coincide: build on the
    // union with minDf = 1 vs incremental — fresh-touching pairs only
    val path = Files.createTempDirectory("frame_index_par").toString
    FrameIndex.build(media(base), path, maxDf = 3)
    val inc = got(FrameIndex.append(spark, path, 1L, media(b1)))
    val fd = graft.operators.FrameDedup
    val frames = fd.frameFingerprints(media(base)) // dictionary corpus = build corpus
    val allSets = fd.frameSets(fd.frameFingerprints(media(base ++ b1)))
    val batch = got(fd.selfPairs(allSets,
      fd.frameDictionary(frames, minDf = 1, maxDf = 3), 1, 2))
    val freshIds = b1.map(_._1).toSet
    assert(inc == batch.filter { case (a, b) => freshIds(a) || freshIds(b) },
      "incremental pairs diverged from the batch operator")
  }
}
