package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Env
import graft.functions.VectorExpressions
import Q._

/** Similarity search over the `embeddings` table (`array<float>`, dim=64).
  *
  * Engine side keeps vectors packed (`zip_with` + `aggregate` on the array
  * column — no explode, no shuffle of element rows); the oracle unnests via a
  * constant index table. To make cosine scores hash-identical across engines,
  * every element is quantized to exact milli-units first
  * (`floor(x*1000+0.5)` as BIGINT): integer dot products and squared norms are
  * then exact and associative (order-free), and the final
  * `dot / (sqrt(n2a)*sqrt(n2b))` is a fixed IEEE expression over
  * exactly-determined integers. Quantized scoring is also the realistic
  * 100 TB design (int8/int16 product quantization is how large ANN systems
  * ship); brute force is the correctness baseline, the label-partitioned IVF
  * variant is the scale path (probe one cluster, not the corpus).
  */
object VectorQueries {

  private val DIM = 64

  /** exact integer dot product / squared norm over array<float>: native
    * codegen expressions (graft.functions.VectorExpressions) — a tight Java
    * loop inside whole-stage codegen instead of interpreted HOFs. */
  private def dotQ(a: Column, b: Column): Column =
    VectorExpressions.quantizedDot(a, b)
  private def norm2Q(a: Column): Column = VectorExpressions.quantizedNorm2(a)

  /** SemDeDup body shared by the k=8 oracle gate (s11) and the k∝n scale
    * form (s12): cluster with KMeans.lloyd, then within-cluster pairwise
    * quantized cosine, removed = any lower-id clustermate ≥ τ. Pairwise
    * work per cluster is (n/k)²/2 — k is THE scale lever: holding k fixed
    * while n grows makes the bench quadratic (measured: s11 2.9 s at sf1 →
    * 281 s at sf10), holding n/k constant keeps it linear (s12). The
    * pairing/aggregation primitives live in [[graft.operators.SemDedup]],
    * shared with the frozen-centroid form (s13) and the incremental disk
    * index ([[graft.jobs.SemDeDupIndex]]). */
  private[queries] def semDedup(s: SparkSession, e: DataFrame, k: Int): DataFrame = {
    VectorExpressions.register(s)
    val (assign0, _) = graft.operators.KMeans.lloyd(
      e, "vec_id", "embedding", k = k, iters = 2)
    // materialize the assignment ONCE: both the size histogram and the
    // members join read it, and recomputing it would re-run the nearest-
    // centroid kernel over the corpus — the dominant linear stage in the
    // k ∝ n regime (s12's k = n/2500). Rows are (id, cluster, dist):
    // corpus-count × 24 bytes, block-cache-sized at any gate scale.
    val assign = assign0.localCheckpoint()
    val sd = graft.operators.SemDedup
    val sizes = clusterSizes(assign)
    val blocks = blocksBySize(sizes)
    if (sys.env.contains("SPARK_GRAFT_DEBUG"))
      System.err.println(s"[semdedup] cluster sizes ${sizes.sortBy(-_._2)}" +
        s" -> blocks ${blocks.toSeq.sortBy(_._1)}")
    sd.removals(sd.shadowPairsSized(sd.members(e, assign), blocks,
      spreadTiles = spreadTiles(sizes)))
  }

  /** Engage the one-partition-per-tile exchange only when the pair stage
    * is big enough for tile stacking to matter: Σ size_c² pair-evals ≥
    * 2.56e8 (≈ a multi-second stage on 32 cores); below that the ~4×tiles
    * scheduled tasks cost more than the stacking they prevent (measured
    * round 12: s11 at sf0.1 — 2000 vectors — paid ~0.4 s for nothing). */
  private[graft] def spreadTiles(sizes: Seq[(Long, Long)]): Boolean =
    sizes.map { case (_, n) => n.toDouble * n.toDouble }.sum >= 2.56e8

  /** Per-cluster member counts `(cluster, n)` — a k-bounded driver pull
    * (k rows; s12's largest standing k is n/2500) over the already-
    * computed assignment, the same boundedness class as lloyd's centroid
    * collect. */
  private[graft] def clusterSizes(assign: DataFrame): Seq[(Long, Long)] =
    assign.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** SIZE-AWARE block factor for the within-cluster pair join
    * (SemDedup.shadowPairsSized): pick one tile side T so the task grid
    * totals ~`targetTasks` tiles — T = sqrt(Σ size_c² / target) — then
    * give each cluster B_c = round(size_c / T) blocks, so every tile
    * carries ~T² compare work REGARDLESS of cluster skew. A uniform B
    * (round 11) fixed the reducer-count ceiling but left the largest
    * cluster's tiles as the stage's stragglers (17.6 of 32 effective
    * cores at sf10); equalizing tile work is one remaining lever, the
    * one-partition-per-tile exchange (SemDedup.scoredPairs) the other.
    * With k ≥ targetTasks clusters it degrades to
    * B_c=1, paying zero replication (s12/s13's deployment shapes). The
    * cap bounds one degenerate cluster's replication at 16×. Exact
    * refinement for ANY map — pair set and gate hashes never change. */
  private[graft] def blocksBySize(sizes: Seq[(Long, Long)],
                                    targetTasks: Int = tileTarget()): Map[Long, Int] = {
    val sumSq = sizes.map { case (_, n) => n.toDouble * n.toDouble }.sum
    if (sumSq <= 0) Map.empty
    else {
      val tile = math.sqrt(sumSq / targetTasks)
      sizes.map { case (c, n) =>
        c -> math.min(16, math.max(1, math.round(n / tile).toInt)) }.toMap
    }
  }

  /** Default pair-grid size; SPARK_GRAFT_SEMDEDUP_TILES overrides for
    * sweeps (PERF.md records the measured optimum per round). 256 is the
    * round-12 sf10 optimum under the one-partition-per-tile exchange:
    * same-window sweep 128 → 23.8–25.3 s, 256 → 16.4–17.5 s, 384 →
    * 18.6–19.9 s, 512 → 17.3–18.2 s (smaller tiles keep each build table
    * near-L2 and the makespan granular; past ~256 replication shuffle
    * gives the gain back). Round 11's "B=4/128 tiles optimal, B=6 gives
    * back 40–55%" was measured under the STACKED exchange and is
    * superseded — stacking, not tile size, was the regressor. */
  private[graft] def tileTarget(env: collection.Map[String, String] = sys.env): Int =
    Env.int(env, "SPARK_GRAFT_SEMDEDUP_TILES", 256, min = 1)

  private def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** DuckDB: unnest each embedding against a constant 1..64 index table,
    * quantize, and aggregate exactly — same integers as the engine side. */
  private def sqlQuantized(filter: String, alias: String): String =
    s"""SELECT vec_id AS ${alias}_id, label AS ${alias}_label,
          CAST(sum(qv*qv) AS BIGINT) AS ${alias}_n2
        FROM (SELECT vec_id, label,
                CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv
              FROM embeddings
              CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i
              $filter) x
        GROUP BY 1, 2"""

  private def sqlDots(qFilter: String): String =
    s"""qe AS (SELECT vec_id AS q_id,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv, i.i AS i
          FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i
          $qFilter),
        ce AS (SELECT vec_id AS c_id, label AS c_label,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS cv, i.i AS i
          FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        dots AS (SELECT q_id, c_id, CAST(sum(qv*cv) AS BIGINT) AS dot
                 FROM qe JOIN ce ON qe.i = ce.i AND q_id <> c_id
                 GROUP BY 1, 2)"""

  /** labelMode: "any" = all candidates, "same" = the IVF probe (candidate
    * must share the query's coarse cluster), "diff" = hard-negative mining
    * (most-similar candidates from OTHER classes). */
  private def knn(s: SparkSession, dir: String, labelMode: String,
                  k: Int): DataFrame = {
    VectorExpressions.register(s)
    val e = T(s, dir, "embeddings")
    // precompute each side's squared norm BEFORE the join: norms are computed
    // once per vector instead of once per (query, candidate) pair
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), norm2Q(col("embedding")).as("q_n2"))
    val c = e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
      col("embedding").as("c_emb"), norm2Q(col("embedding")).as("c_n2"))
    val joinCond = col("c_id") =!= col("q_id") && (labelMode match {
      case "same" => col("c_label") === col("q_label")
      case "diff" => col("c_label") =!= col("q_label")
      case _      => lit(true)
    })
    val scored = c.join(broadcast(q), joinCond)
      .withColumn("cos_sim",
        cosine(dotQ(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), col("cos_sim"))
  }

  private def sqlKnn(labelMode: String, k: Int): String = {
    val labelCond = labelMode match {
      case "same" => "AND q.q_label = c.c_label"
      case "diff" => "AND q.q_label <> c.c_label"
      case _      => ""
    }
    s"""WITH ${sqlDots("WHERE vec_id < 5")},
      qn AS (${sqlQuantized("WHERE vec_id < 5", "q")}),
      cn AS (${sqlQuantized("", "c")}),
      scored AS (
        SELECT dots.q_id, dots.c_id,
          CAST(dot AS DOUBLE)/(sqrt(CAST(q_n2 AS DOUBLE))*sqrt(CAST(c_n2 AS DOUBLE)))
            AS cos_sim
        FROM dots
        JOIN qn q ON dots.q_id = q.q_id
        JOIN cn c ON dots.c_id = c.c_id
        WHERE 1=1 $labelCond),
      ranked AS (
        SELECT q_id, c_id, CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id ASC) AS INTEGER) AS rank, cos_sim
        FROM scored)
      SELECT q_id, c_id, rank, cos_sim FROM ranked WHERE rank <= $k"""
  }

  val all: Seq[Q] = Seq(

    // ---- brute-force cosine top-k (ANN correctness baseline) ----
    Q("s01_knn_brute", (s, dir) => knn(s, dir, labelMode = "any", k = 10),
      Some(sqlKnn(labelMode = "any", k = 10)), bench = true),

    // ---- IVF-style search: probe only the query's cluster (label = coarse
    // centroid id). At 100 TB the candidate table is partitioned by cluster id
    // so this prunes to one partition per query. ----
    Q("s02_knn_ivf_label", (s, dir) => knn(s, dir, labelMode = "same", k = 3),
      Some(sqlKnn(labelMode = "same", k = 3))),

    // ---- hard-negative mining (embedding-model training data): for each
    // anchor query, the most-similar candidates from a DIFFERENT class —
    // the pairs that teach a contrastive model the decision boundary
    // (in-batch random negatives are too easy; these are the ones it gets
    // wrong). Same broadcast-query + bounded-key window shape as s01; at
    // 100 TB the candidate side is IVF-pruned to the anchor's neighboring
    // clusters first (s05), then label-filtered. ----
    Q("s10_hard_negatives", (s, dir) => knn(s, dir, labelMode = "diff", k = 5),
      Some(sqlKnn(labelMode = "diff", k = 5))),

    // ---- embedding-cosine near-duplicate pairs, blocked by cluster label:
    // the all-pairs comparison is confined to same-label blocks (an equi-join
    // on the coarse cluster id — shuffle-partitionable, never a global cross
    // join), the standard scale pattern for embedding dedup. ----
    Q("s04_embedding_neardup",
      (s, dir) => {
        VectorExpressions.register(s)
        val e = T(s, dir, "embeddings")
        val a = e.select(col("label"), col("vec_id").as("a_id"),
          col("embedding").as("a_emb"), norm2Q(col("embedding")).as("a_n2"))
        val b = e.select(col("label"), col("vec_id").as("b_id"),
          col("embedding").as("b_emb"), norm2Q(col("embedding")).as("b_n2"))
        a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
          .withColumn("cos_sim",
            cosine(dotQ(col("a_emb"), col("b_emb")), col("a_n2"), col("b_n2")))
          .filter(col("cos_sim") >= 0.3)
          .select(col("label"), col("a_id"), col("b_id"), col("cos_sim"))
      },
      Some(s"""WITH qe AS (SELECT vec_id, label,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv, i.i AS i
          FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        dots AS (SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
              CAST(sum(a.qv*b.qv) AS BIGINT) AS dot
            FROM qe a JOIN qe b ON a.i = b.i AND a.label = b.label
              AND a.vec_id < b.vec_id
            GROUP BY 1, 2, 3),
        n AS (${sqlQuantized("", "v")}),
        scored AS (SELECT dots.label, a_id, b_id,
            CAST(dot AS DOUBLE)/(sqrt(CAST(na.v_n2 AS DOUBLE))*sqrt(CAST(nb.v_n2 AS DOUBLE)))
              AS cos_sim
          FROM dots
          JOIN n na ON dots.a_id = na.v_id
          JOIN n nb ON dots.b_id = nb.v_id)
        SELECT label, a_id, b_id, cos_sim FROM scored WHERE cos_sim >= 0.3""")),

    // ---- IVF multi-probe: rank clusters by query↔centroid cosine and
    // probe the best TWO, the standard recall/latency lever when the true
    // neighbor straddles a cluster boundary (s02 probes exactly one).
    // Centroids are kept as exact element-wise SUMS of the quantized
    // vectors — cosine against the sum equals cosine against the mean
    // (scale-invariant), so no division ever leaves integer space and both
    // engines rank clusters identically. At 100 TB: the centroid table is
    // k×dim (tiny, broadcast), candidates are partitioned by cluster id,
    // so each query reads exactly two partitions. ----
    Q("s05_knn_ivf_multiprobe",
      (s, dir) => {
        VectorExpressions.register(s)
        val e = T(s, dir, "embeddings")
        val el = e.select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("i0", "v")))
          .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"),
            expr("CAST(floor(v*1000.0+0.5) AS BIGINT)").as("qv"))
        val cent = el.groupBy(col("label"), col("i"))
          .agg(sum(col("qv")).as("sv"))
        val cn2 = cent.groupBy(col("label"))
          .agg(sum(col("sv") * col("sv")).as("c_n2"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            norm2Q(col("embedding")).as("q_n2"))
        val qel = el.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("i"), col("qv"))
        val pdot = qel.join(broadcast(cent), Seq("i"))
          .groupBy(col("q_id"), col("label"))
          .agg(sum(col("qv") * col("sv")).as("dot"))
        val pw = Window.partitionBy(col("q_id"))
          .orderBy(col("probe_cos").desc, col("label").asc)
        val probe = pdot
          .join(broadcast(cn2), Seq("label"))
          .join(broadcast(q.select(col("q_id"), col("q_n2"))), Seq("q_id"))
          .withColumn("probe_cos", cosine(col("dot"), col("q_n2"), col("c_n2")))
          .withColumn("rn", row_number().over(pw))
          .filter(col("rn") <= 2)
          .select(col("q_id"), col("label"))
        val c = e.select(col("vec_id").as("c_id"), col("label"),
          col("embedding").as("c_emb"), norm2Q(col("embedding")).as("c_n2"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("c_id").asc)
        c.join(broadcast(probe), Seq("label"))
          .join(broadcast(q), Seq("q_id"))
          .filter(col("c_id") =!= col("q_id"))
          .withColumn("cos_sim",
            cosine(dotQ(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("c_id"), col("rank"), col("cos_sim"))
      },
      Some(s"""WITH allq AS (SELECT vec_id, label,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv, i.i AS i
          FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        cent AS (SELECT label, i, CAST(sum(qv) AS BIGINT) AS sv
          FROM allq GROUP BY 1, 2),
        cn2 AS (SELECT label, CAST(sum(sv*sv) AS BIGINT) AS c_n2
          FROM cent GROUP BY 1),
        qn AS (${sqlQuantized("WHERE vec_id < 5", "q")}),
        pdot AS (SELECT a.vec_id AS q_id, cent.label,
            CAST(sum(a.qv*cent.sv) AS BIGINT) AS dot
          FROM allq a JOIN cent ON a.i = cent.i
          WHERE a.vec_id < 5 GROUP BY 1, 2),
        probe AS (SELECT q_id, label FROM (
            SELECT p.q_id, p.label,
              row_number() OVER (PARTITION BY p.q_id ORDER BY
                CAST(p.dot AS DOUBLE)/(sqrt(CAST(qn.q_n2 AS DOUBLE))*sqrt(CAST(cn2.c_n2 AS DOUBLE)))
                DESC, p.label ASC) AS rn
            FROM pdot p JOIN qn ON p.q_id = qn.q_id
            JOIN cn2 ON p.label = cn2.label) r
          WHERE rn <= 2),
        dots AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
            CAST(sum(a.qv*b.qv) AS BIGINT) AS dot
          FROM allq a
          JOIN allq b ON a.i = b.i AND a.vec_id <> b.vec_id
          JOIN probe ON probe.q_id = a.vec_id AND probe.label = b.label
          WHERE a.vec_id < 5 GROUP BY 1, 2),
        cn AS (${sqlQuantized("", "c")}),
        scored AS (SELECT dots.q_id, dots.c_id,
            CAST(dot AS DOUBLE)/(sqrt(CAST(q_n2 AS DOUBLE))*sqrt(CAST(c_n2 AS DOUBLE)))
              AS cos_sim
          FROM dots
          JOIN qn ON dots.q_id = qn.q_id
          JOIN cn ON dots.c_id = cn.c_id),
        ranked AS (SELECT q_id, c_id,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, c_id ASC) AS INTEGER) AS rank, cos_sim
          FROM scored)
        SELECT q_id, c_id, rank, cos_sim FROM ranked WHERE rank <= 3""")),

    // ---- sign-random-projection (cosine) LSH near-dup: the LSH-bucketed
    // scale path for embedding similarity, complementing the IVF family
    // (s02/s05). 16 deterministic integer hyperplanes (md5-derived, so both
    // engines build bit-identical planes with no shared code) give each
    // vector a 16-bit signature; 4 bands of 4 bits are the LSH buckets, and
    // candidates are pairs sharing ANY band — an equi-join on
    // (band, band_val), never a cross join. Candidates are then re-ranked
    // with the exact quantized cosine and thresholded. Recall is the
    // standard LSH tradeoff (P[candidate] = 1-(1-p^4)^4, p = 1-θ/π) but the
    // output is fully deterministic, so the oracle reproduces it exactly.
    // At 100 TB: signatures are one narrow shuffle over (vec, plane)
    // partial sums, buckets partition the candidate join, and the
    // hyperplane table is a 1024-row broadcast constant. ----
    Q("s06_lsh_neardup",
      (s, dir) => {
        VectorExpressions.register(s)
        val e = T(s, dir, "embeddings")
        val el = e.select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("i0", "v")))
          .select(col("vec_id"), (col("i0") + 1).as("i"),
            expr("CAST(floor(v*1000.0+0.5) AS BIGINT)").as("qv"))
        // 16 hyperplanes x 64 dims, components in [-32768, 32767] from md5 —
        // the same strings and arithmetic the oracle computes
        val hp = s.range(0, 16).select(col("id").as("p"))
          .crossJoin(s.range(1, DIM + 1).select(col("id").as("i")))
          .withColumn("h",
            expr("CAST(conv(substr(md5(concat(CAST(p AS STRING), '_', " +
              "CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 65536 - 32768"))
        val bits = el.join(broadcast(hp), Seq("i"))
          .groupBy(col("vec_id"), col("p"))
          .agg(sum(col("qv") * col("h")).as("d"))
          .select(col("vec_id"), col("p"),
            when(col("d") >= 0, 1L).otherwise(0L).as("bit"))
        val sig = bits
          .groupBy(col("vec_id"), (col("p") / 4).cast("long").as("band"))
          .agg(sum(expr("shiftleft(bit, CAST(p % 4 AS INT))")).as("band_val"))
        val cand = sig.as("a")
          .join(sig.as("b"),
            col("a.band") === col("b.band") &&
              col("a.band_val") === col("b.band_val") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
          .distinct()
        val va = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
          norm2Q(col("embedding")).as("a_n2"))
        val vb = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
          norm2Q(col("embedding")).as("b_n2"))
        // va/vb are the FULL vector table re-keyed: corpus-sized, so the
        // verify join strategy is AQE's call, not a forced broadcast
        cand.join(va, Seq("a_id")).join(vb, Seq("b_id"))
          .withColumn("cos_sim",
            cosine(dotQ(col("a_emb"), col("b_emb")), col("a_n2"), col("b_n2")))
          .filter(col("cos_sim") >= 0.35)
          .select(col("a_id"), col("b_id"), col("cos_sim"))
      },
      Some(s"""WITH hp AS (
          SELECT p.p, i.i,
            (('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_' ||
              CAST(i.i AS VARCHAR)), 1, 8))::BIGINT % 65536) - 32768 AS h
          FROM (SELECT unnest(range(0, 16)) AS p) p
          CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        qe AS (SELECT vec_id,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv, i.i AS i
          FROM embeddings
          CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        bits AS (SELECT vec_id, p,
            CASE WHEN sum(qv*h) >= 0 THEN 1 ELSE 0 END AS bit
          FROM qe JOIN hp ON qe.i = hp.i GROUP BY vec_id, p),
        sig AS (SELECT vec_id, p // 4 AS band,
            CAST(sum(bit << (p % 4)) AS BIGINT) AS band_val
          FROM bits GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          FROM sig a JOIN sig b
            ON a.band = b.band AND a.band_val = b.band_val
              AND a.vec_id < b.vec_id),
        dots AS (SELECT c.a_id, c.b_id, CAST(sum(qa.qv*qb.qv) AS BIGINT) AS dot
          FROM cand c
          JOIN qe qa ON qa.vec_id = c.a_id
          JOIN qe qb ON qb.vec_id = c.b_id AND qa.i = qb.i
          GROUP BY 1, 2),
        n AS (SELECT vec_id, CAST(sum(qv*qv) AS BIGINT) AS n2
          FROM qe GROUP BY 1)
        SELECT d.a_id, d.b_id,
          CAST(dot AS DOUBLE)/(sqrt(CAST(na.n2 AS DOUBLE))*sqrt(CAST(nb.n2 AS DOUBLE)))
            AS cos_sim
        FROM dots d
        JOIN n na ON d.a_id = na.vec_id
        JOIN n nb ON d.b_id = nb.vec_id
        WHERE CAST(dot AS DOUBLE)/(sqrt(CAST(na.n2 AS DOUBLE))*sqrt(CAST(nb.n2 AS DOUBLE)))
          >= 0.35""")),

    // ---- per-cluster vector stats (exact-integer norms) ----
    Q("s03_vector_stats",
      (s, dir) => {
        VectorExpressions.register(s)
        val e = T(s, dir, "embeddings")
          .withColumn("n2", norm2Q(col("embedding")))
          .withColumn("norm", sqrt(col("n2").cast("double")) / 1000.0)
        e.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"), sum(col("n2")).as("sum_n2"),
            min(col("norm")).as("min_norm"), max(col("norm")).as("max_norm"))
      },
      Some(s"""WITH n AS (${sqlQuantized("", "v")})
        SELECT v_label AS label, count(*) AS n_vecs,
          CAST(sum(v_n2) AS BIGINT) AS sum_n2,
          min(sqrt(CAST(v_n2 AS DOUBLE))/1000.0) AS min_norm,
          max(sqrt(CAST(v_n2 AS DOUBLE))/1000.0) AS max_norm
        FROM n GROUP BY 1""")),

    // ---- k-means TRAINING (Lloyd's): builds the IVF coarse index the
    // search queries probe, instead of consuming a given label. Exact
    // integer distances + the rational round-half-up centroid formula make
    // every iteration hash-identical across engines; the oracle unrolls the
    // same two assignment passes in SQL. See operators/KMeans for the
    // 100 TB design (map-only assignment against broadcast centroids, one
    // k·dim-group shuffle per recenter). ----
    Q("s07_kmeans_train",
      (s, dir) => {
        val (assign, _) = graft.operators.KMeans.lloyd(
          T(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
        assign.select(col("id").as("vec_id"), col("cluster"), col("dist"))
      },
      Some(s"""WITH el AS (SELECT vec_id, i.i AS i,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv
          FROM embeddings
          CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        seeds AS (SELECT vec_id,
            CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8) s),
        c0 AS (SELECT cluster, i, qv AS cv FROM seeds JOIN el USING (vec_id)),
        d1 AS (SELECT el.vec_id, c0.cluster,
            CAST(sum((qv-cv)*(qv-cv)) AS BIGINT) AS dist
          FROM el JOIN c0 USING (i) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
            FROM d1) x WHERE rn = 1),
        c1 AS (SELECT cluster, i,
            CAST(floor((2.0*CAST(sum(qv) AS BIGINT)+count(*))
              /(2.0*count(*))) AS BIGINT) AS cv
          FROM a1 JOIN el USING (vec_id) GROUP BY 1, 2),
        d2 AS (SELECT el.vec_id, c1.cluster,
            CAST(sum((qv-cv)*(qv-cv)) AS BIGINT) AS dist
          FROM el JOIN c1 USING (i) GROUP BY 1, 2)
        SELECT vec_id, cluster, dist FROM (
          SELECT vec_id, cluster, dist,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
          FROM d2) x WHERE rn = 1"""),
      bench = true),

    // ---- product-quantization encode (operators/Pq) on the hash gate:
    // codebooks are the lloyd SEEDS (iters=1 — the k smallest vec_ids'
    // vector slices), so the oracle can reconstruct them exactly in SQL
    // and score every (vector, subspace, seed) distance independently.
    // The engine's map-only literal-codebook encode must agree code-for-
    // code, ties to the lower code id. s07 proves the TRAINED centroids
    // cross-engine; this proves the encoder. ----
    Q("s08_pq_encode",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val cb = graft.operators.Pq.train(e, "vec_id", "embedding",
          m = 4, k = 8, iters = 1)
        graft.operators.Pq.encode(e, "vec_id", "embedding", cb)
          .select(col("vec_id"), posexplode(col("codes")))
          .select(col("vec_id"), col("pos").cast("long").as("s"),
            col("col").cast("long").as("code"))
      },
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, v -> CAST(floor(v*1000.0+0.5) AS BIGINT)) AS qv
          FROM embeddings),
        seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
            AS code, qv AS sv
          FROM q ORDER BY vec_id LIMIT 8),
        sub AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS s),
        pairs AS (
          SELECT q.vec_id, sub.s, seeds.code,
            list_sum(list_transform(range(1, 17),
              i -> (q.qv[CAST(sub.s*16 + i AS INTEGER)]
                    - seeds.sv[CAST(sub.s*16 + i AS INTEGER)])
                 * (q.qv[CAST(sub.s*16 + i AS INTEGER)]
                    - seeds.sv[CAST(sub.s*16 + i AS INTEGER)]))) AS dist
          FROM q, sub, seeds),
        best AS (SELECT vec_id, s, code,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
          FROM pairs)
        SELECT vec_id, s, code FROM best WHERE rn = 1""")),

    // ---- PQ asymmetric-distance scan (operators/Pq.adcScores) on the hash
    // gate: the query vector (vec_id 0, fetched driver-side — the "query
    // arrives at the API" shape) builds an m×k lookup table of exact integer
    // subspace distances, broadcast as a literal; each row's approximate
    // distance is then m array lookups + a sum over the (id, codes) column
    // ONLY — the full vectors are never read. This is the scan that makes a
    // 100 TB ANN corpus affordable: bytes-per-row drops from 256 B to 4 B
    // and the whole thing is one codegen'd projection, no join, no shuffle.
    // s08 proved the encoder cross-engine; this proves the scorer. The
    // oracle reconstructs the same iters=1 seed codebooks and reads the LUT
    // as "distance from vec 0's subvectors to every seed". ----
    Q("s09_pq_adc",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val cb = graft.operators.Pq.train(e, "vec_id", "embedding",
          m = 4, k = 8, iters = 1)
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.operators.Pq.adcScores(
            graft.operators.Pq.encode(e, "vec_id", "embedding", cb), cb, query)
          .select(col("vec_id"), col("adc_dist"))
      },
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, v -> CAST(floor(v*1000.0+0.5) AS BIGINT)) AS qv
          FROM embeddings),
        seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
            AS code, qv AS sv
          FROM q ORDER BY vec_id LIMIT 8),
        sub AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS s),
        pairs AS (
          SELECT q.vec_id, sub.s, seeds.code,
            list_sum(list_transform(range(1, 17),
              i -> (q.qv[CAST(sub.s*16 + i AS INTEGER)]
                    - seeds.sv[CAST(sub.s*16 + i AS INTEGER)])
                 * (q.qv[CAST(sub.s*16 + i AS INTEGER)]
                    - seeds.sv[CAST(sub.s*16 + i AS INTEGER)]))) AS dist
          FROM q, sub, seeds),
        best AS (SELECT vec_id, s, code,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
          FROM pairs),
        lut AS (SELECT s, code, dist FROM pairs WHERE vec_id = 0)
        SELECT b.vec_id, CAST(sum(lut.dist) AS BIGINT) AS adc_dist
        FROM (SELECT vec_id, s, code FROM best WHERE rn = 1) b
        JOIN lut USING (s, code)
        GROUP BY 1""")),

    // ---- SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    // k-means clusters bound the pairwise work (the SemDeDup design
    // point: the quadratic comparison never crosses a cluster boundary),
    // then within-cluster cosine >= τ marks near-semantic duplicates and
    // the LOWEST id of each shadowing neighbor set is the keeper. The
    // removal rule is the same keep-first convention as t05's exact dedup:
    // a vector is removed iff ANY lower-id clustermate clears τ (greedy,
    // order-free, deterministic — no transitive closure, matching the
    // paper's one-pass-within-cluster pruning). Clustering is the
    // s07-proven KMeans.lloyd (k=8, 2 Lloyd iterations, exact integer
    // distances), so the oracle re-derives the SAME assignment in SQL and
    // the gate proves clustering AND pruning cross-engine. At 100 TB:
    // k scales with the corpus (clusters stay ~constant-sized), assignment
    // is map-only against broadcast centroids, and the pair join shuffles
    // on cluster id — never a global all-pairs. ----
    Q("s11_semdedup",
      (s, dir) => semDedup(s, T(s, dir, "embeddings"), k = 8),
      Some(semDedupUnrolledSql(trainPred = None)),
      bench = true),

    // ---- s11's k∝n SCALE form: clusters sized to ~2500 vectors whatever
    // the corpus size, so the within-cluster pairwise work grows LINEARLY
    // with n instead of quadratically (the SemDeDup paper's actual
    // deployment shape; s11's fixed k=8 exists so the oracle's pair join
    // stays tractable at any gate scale). The oracle is the SAME unrolled
    // SQL as s11 — every CTE in it is k-agnostic, so the dynamic k =
    // max(8, n/2500) is computed IN the SQL (a scalar subquery bounding
    // the seed row_numbers), and the hash gate proves the dynamic-k
    // semantics cross-engine at whatever k the gate corpus implies.
    // Measured lever: sf10 s11 (k=8) 281 s → s12 (k=80) linear-scaled —
    // see PERF.md round 9. Below n=20000 the formula floors at k=8, so
    // the sf0.1 surface times an s11 twin (~1 s) — accepted cost of
    // re-measuring the lever on EVERY standing surface each round. ----
    Q("s12_semdedup_scaled",
      (s, dir) => {
        val e = T(s, dir, "embeddings")
        val k = math.max(8L, e.count() / 2500L).toInt
        semDedup(s, e, k)
      },
      Some(semDedupUnrolledSql(trainPred = None,
        kSql = "SELECT greatest(8, CAST(floor(count(*)/2500.0) AS BIGINT))" +
          " FROM embeddings"))),

    // ---- SemDeDup under FROZEN centroids — the incremental-ingest shape:
    // centroids are trained on yesterday's corpus (here: the even-id half,
    // a scale-invariant split) and FROZEN; the whole corpus — old and new —
    // is assigned map-only against them and shadow-pruned under the s11
    // rule. This is exactly what jobs/SemDeDupIndex does per arrival
    // batch, so this gate hash-proves the frozen-assignment semantics
    // cross-engine (train-subset k-means + assignTo + pairing), while
    // SemDeDupIndexSpec proves the batch-additivity of the removals
    // aggregate on top of it. Oracle = s11's unrolled SQL with seeding and
    // recentering restricted to even vec_ids and the final assignment left
    // corpus-wide. ----
    Q("s13_semdedup_frozen",
      (s, dir) => {
        VectorExpressions.register(s)
        val e = T(s, dir, "embeddings")
        val (_, cents) = graft.operators.KMeans.lloyd(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          k = 8, iters = 2)
        val assign = graft.operators.KMeans.assignTo(
          e, "vec_id", "embedding", cents)
          .localCheckpoint() // one materialization feeds sizes + members
        val sd = graft.operators.SemDedup
        val sizes = clusterSizes(assign)
        sd.removals(sd.shadowPairsSized(sd.members(e, assign),
          blocksBySize(sizes), spreadTiles = spreadTiles(sizes)))
      },
      Some(semDedupUnrolledSql(trainPred = Some("vec_id % 2 = 0"))))
  )

  /** s11/s12/s13 shared oracle text — ONE builder so the gates can never
    * drift apart on the unrolled k-means/cosine SQL. The unroll mirrors
    * KMeans.lloyd(k, iters=2): assign to the k smallest-id seeds (d1/a1),
    * recenter once with the exact rational round-half-up (c1), reassign
    * (d2/asn — ties to the lower cluster id via ORDER BY dist, cluster),
    * then within-cluster lower-id shadow pruning at cos ≥ 0.3 over exact
    * milli-quantized integers. The unroll is hardcoded only in the
    * ITERATION COUNT — every CTE below is k-agnostic joins — so `kSql`
    * (any scalar SQL expression; s12 passes a computed subquery) sets how
    * many smallest-id seeds start the clustering. `trainPred` restricts
    * SEEDING and the RECENTERING PASS to a training subset (s13's
    * frozen-centroid shape); the final assignment and the pruning always
    * run corpus-wide. */
  private def semDedupUnrolledSql(trainPred: Option[String],
                                  kSql: String = "8"): String = {
    val seedW = trainPred.map(p => s"WHERE $p ").getOrElse("")
    val d1W = trainPred.map(p => s"WHERE el.$p ").getOrElse("")
    s"""WITH el AS (SELECT vec_id, i.i AS i,
            CAST(floor(CAST(embedding[i.i] AS DOUBLE)*1000.0+0.5) AS BIGINT) AS qv
          FROM embeddings
          CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) i),
        seeds AS (SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cluster
          FROM (SELECT vec_id,
                  row_number() OVER (ORDER BY vec_id) AS rn
                FROM embeddings ${seedW}) s
          WHERE rn <= ($kSql)),
        c0 AS (SELECT cluster, i, qv AS cv FROM seeds JOIN el USING (vec_id)),
        d1 AS (SELECT el.vec_id, c0.cluster,
            CAST(sum((qv-cv)*(qv-cv)) AS BIGINT) AS dist
          FROM el JOIN c0 USING (i) ${d1W}GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
            FROM d1) x WHERE rn = 1),
        c1 AS (SELECT cluster, i,
            CAST(floor((2.0*CAST(sum(qv) AS BIGINT)+count(*))
              /(2.0*count(*))) AS BIGINT) AS cv
          FROM a1 JOIN el USING (vec_id) GROUP BY 1, 2),
        d2 AS (SELECT el.vec_id, c1.cluster,
            CAST(sum((qv-cv)*(qv-cv)) AS BIGINT) AS dist
          FROM el JOIN c1 USING (i) GROUP BY 1, 2),
        asn AS (SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
            FROM d2) x WHERE rn = 1),
        n AS (SELECT vec_id, CAST(sum(qv*qv) AS BIGINT) AS n2
          FROM el GROUP BY 1),
        dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, aa.cluster,
            CAST(sum(a.qv*b.qv) AS BIGINT) AS dot
          FROM el a
          JOIN asn aa ON aa.vec_id = a.vec_id
          JOIN asn ab ON ab.cluster = aa.cluster
          JOIN el b ON b.vec_id = ab.vec_id AND a.i = b.i
            AND a.vec_id < b.vec_id
          GROUP BY 1, 2, 3),
        scored AS (SELECT a_id, b_id, cluster,
            CAST(dot AS DOUBLE)/(sqrt(CAST(na.n2 AS DOUBLE))*sqrt(CAST(nb.n2 AS DOUBLE)))
              AS cos_sim
          FROM dots
          JOIN n na ON dots.a_id = na.vec_id
          JOIN n nb ON dots.b_id = nb.vec_id)
        SELECT b_id AS removed_id, cluster, min(a_id) AS kept_by,
          count(*) AS n_shadows
        FROM scored WHERE cos_sim >= 0.3 GROUP BY 1, 2"""
  }
}
