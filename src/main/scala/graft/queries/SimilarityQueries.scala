package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Similarity-search pack over `embeddings` (SURVEY §2C): exact
  * brute-force top-k (the baseline / re-rank stage), sign-bit LSH ANN
  * (the scale path), and IVF-style centroid assignment. Scores are
  * quantized-integer cosine (see VectorFunctions) for oracle determinism.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // JL random projection 64 -> 16 dims with the deterministic md5
    // sign matrix — graft.ops.Similarity.randomProjection
    "s13_random_projection" -> ((s, d) => {
      Similarity.randomProjection(
          Tables.load(s, d, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", dim = 64, outDim = 16)
        .orderBy("vec_id")
    }),

    "s01_topk_bruteforce" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 8), k = 10)
        .orderBy("query_id", "rank")
    }),

    // recall@10 of top-k in the 16-dim PROJECTED space vs the exact
    // 64-dim ground truth — the s11 evaluation harness pointed at
    // s13's JL projection, making the projection a measured index
    // stage rather than a computed artifact. Projected cosines are
    // left-associated 16-term chains over the fold-built projections
    // (sqrt is IEEE-correctly-rounded), so the approximate ranks
    // replay exactly too.
    "s14_projected_recall" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val withNorm = Similarity.randomProjection(
          e.select("vec_id", "embedding"), "vec_id", "embedding",
          dim = 64, outDim = 16)
        .withColumn("nn",
          (0 until 16).map(i => col(s"p$i") * col(s"p$i")).reduce(_ + _))
      val qp = withNorm.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id") +:
          (0 until 16).map(i => col(s"p$i").as(s"q$i")) :+
          col("nn").as("qn"): _*)
      val cp = withNorm.select(col("vec_id").as("neighbor_id") +:
        (0 until 16).map(i => col(s"p$i")) :+ col("nn").as("cn"): _*)
      val dot = (0 until 16).map(i => col(s"q$i") * col(s"p$i")).reduce(_ + _)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("pcos").desc, col("neighbor_id"))
      val approx = cp.join(broadcast(qp), col("neighbor_id") =!= col("query_id"))
        .withColumn("pcos", dot / (sqrt(col("qn")) * sqrt(col("cn"))))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"),
          (count(col("hit")) / lit(10.0)).as("recall_at_10"))
        .orderBy("query_id")
    }),

    "s02_topk_lsh" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 8), k = 3, bits = 8)
        .orderBy("query_id", "rank")
    }),

    // the k-NN GRAPH: every vector is a query, so the candidate stage
    // is a bucket-keyed equi-SELF-join — no broadcast side exists (the
    // s02 shape would ship the whole corpus to every executor). Feeds
    // SemDeDup clustering / diversity pruning downstream.
    "s15_knn_graph" -> ((s, d) => {
      Similarity.knnGraph(Tables.load(s, d, "embeddings"), k = 3, bits = 8)
        .orderBy("node_id", "rank")
    }),

    // the multi-band k-NN graph (LSH OR-construction): 2 seeded SRP
    // bands × 6 bits — a pair is a candidate if it collides in ANY
    // band, distinct'd, then exact cosine re-rank. The recall knob that
    // makes corpus-scaled (high) bits usable at 100 TB; budget-guarded
    // like s15. The oracle replays both bands' plane literals verbatim.
    "s17_knn_graph_banded" -> ((s, d) => {
      Similarity.knnGraphBanded(Tables.load(s, d, "embeddings"), k = 3,
          bands = 2, bitsPerBand = 6)
        .orderBy("node_id", "rank")
    }),

    // diversified retrieval: MMR re-rank of a 20-pool down to 5 picks
    // per query (0.5·rel − 0.5·max-sim-to-picked, ties by id). The
    // greedy trajectory is unrolled into the plan and replayed
    // step-for-step by the oracle — argmax decisions included.
    "s12_mmr_rerank" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      Similarity.mmrRerank(e, e.where(col("vec_id") < 8), poolSize = 20, k = 5)
        .orderBy("query_id", "pick")
    }),

    "s03_centroid_assign" -> ((s, d) => {
      Similarity.centroidAssign(Tables.load(s, d, "embeddings"))
        .orderBy("label", "predicted")
    }),

    "s06_srp_lsh_topk" -> ((s, d) => {
      // seeded signed-random-projection LSH (vs s02's axis-aligned
      // blocking): 8 sparse hyperplanes, bucket join, exact re-rank
      val planes = graft.functions.VectorFunctions.srpPlanes(bits = 8, dim = 64)
      val e = Tables.load(s, d, "embeddings")
      Similarity.srpTopK(e, e.where(col("vec_id") < 8), k = 3, planes)
        .orderBy("query_id", "rank")
    }),

    // multiprobe over the SAME planes/queries as s06: each query also
    // probes every flip-one-bit bucket (the radius-1 ring), recovering
    // neighbours lost across a single marginal hyperplane — recall ≥
    // s06 at identical tables by construction (superset candidates;
    // spec-gated). The corpus buckets once; only the broadcast query
    // side explodes ×9.
    "s18_multiprobe_topk" -> ((s, d) => {
      val planes = graft.functions.VectorFunctions.srpPlanes(bits = 8, dim = 64)
      val e = Tables.load(s, d, "embeddings")
      Similarity.multiprobeTopK(e, e.where(col("vec_id") < 8), k = 3, planes)
        .orderBy("query_id", "rank")
    }),

    "s05_topk_ivf" -> ((s, d) => {
      // Note on recall: the synthetic embeddings are near-orthogonal
      // (no cluster structure), so probing 2/10 IVF lists measures
      // ~0.38 recall@5 vs brute force — above the 0.2 scan-fraction
      // baseline but far from real-corpus IVF behavior. The operator's
      // correctness is what the oracle checks; recall here is a data
      // property.
      val e = Tables.load(s, d, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 8), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    "s07_filtered_topk" -> ((s, d) => {
      // filtered retrieval — the common production shape: a metadata
      // predicate restricts the corpus BEFORE scoring (pushed to the
      // parquet scan, shrinking the broadcast-scored side), here
      // "even-labeled corpus vectors only"
      val e = Tables.load(s, d, "embeddings")
      Similarity.bruteForceTopK(
          e.where(col("label") % 2 === 0), e.where(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),

    // product quantization: 4 subspaces x 16 codes trained with s08's
    // integer k-means rules, corpus encoded to 4 codes/vector, queries
    // score via precomputed distance tables (ADC). All integer -> the
    // oracle replays training + encode + search exactly. Like s05, the
    // near-orthogonal synthetic embeddings make ADC ranks approximate
    // by nature; the machinery, not the recall, is under test.
    "s09_pq_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
      Similarity.pqTopK(e, e.where(col("vec_id") < 8), topK = 10,
          m = 4, codebookK = 16, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ composed (the index FAISS ships for web-scale ANN,
    // residuals off): s05's coarse lists prune to nprobe/nlists of the
    // corpus, s09's PQ codes score the survivors via distance-table
    // lookups. Training, encode, probe and search all integer — the
    // oracle replays the composed index end to end.
    "s10_ivfpq_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      Similarity.ivfPqTopK(e, e.where(col("vec_id") < 8), topK = 5, nprobe = 2,
          m = 4, codebookK = 16, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // ANN evaluation — recall@k of the IVF index against the
    // brute-force ground truth, per query: the harness a pipeline runs
    // to TUNE nprobe/nlists before trusting an index at scale. Both
    // sides reuse the existing operators; the join is on (query,
    // neighbor), so cost is queries × k, independent of corpus size.
    // the IVF TUNING SWEEP: s11's recall measurement across nprobe ∈
    // {1, 2, 4} in one relation — the scan-fraction/recall trade-off a
    // caller reads to size nprobe before a production run (recall must
    // be monotone in nprobe; the spec-free proof is in the data: each
    // probe set is a superset of the last). Exact ground truth is
    // computed ONCE and checkpointed; each sweep point reuses it.
    "s16_nprobe_sweep" -> ((s, d) => {
      import s.implicits._
      val e = Tables.load(s, d, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      // sweep computes the nprobe-independent IVF structure ONCE
      // (Similarity.ivfTopKSweep); recall per point is one outer join
      // of the level-expanded ground truth against the sweep hits
      val hits = Similarity.ivfTopKSweep(e, q, k = 5, Seq(1, 2, 4))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1))
      exact.crossJoin(broadcast(Seq(1L, 2L, 4L).toDF("nprobe")))
        .join(hits, Seq("nprobe", "query_id", "neighbor_id"), "left")
        .groupBy("nprobe", "query_id")
        .agg(count(col("hit")).as("n_hits"),
          (count(col("hit")) / lit(5.0)).as("recall_at_5"))
        .select("nprobe", "query_id", "n_hits", "recall_at_5")
        .orderBy("nprobe", "query_id")
    }),

    "s11_ann_recall" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      val q = e.where(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(e, q, k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"),
          (count(col("hit")) / lit(5.0)).as("recall_at_5"))
        .orderBy("query_id")
    }),

    // IVF training: deterministic integer Lloyd k-means (init = k
    // lowest ids, exact int L2, floor-mean updates) — the oracle
    // replays both iterations bit-for-bit
    "s08_kmeans_train" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
      Similarity.kmeansAssign(e, k = 8, iters = 2)
        .groupBy(col("cid").cast("long").as("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("total_dist"))
        .orderBy("cid")
    }),

    // Production fast path: the native codegen'd VecCosineFloat
    // expression (single fused loop over raw floats). Float summation
    // order makes scores engine-specific, so no oracle — rows-only.
    "s04_topk_native" -> ((s, d) => {
      import graft.functions.VecExpressions
      val e = Tables.load(s, d, "embeddings")
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          VecExpressions.vec_cosine(col("q_emb"), col("embedding")).as("cosine"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    }),

    // exact maximum-inner-product top-k with Cauchy–Schwarz norm-band
    // pruning — the unnormalized-retriever objective; scores are exact
    // integer dots, the oracle is the brute-force definition, and the
    // pruning must be invisible in the result (graft.ops.Similarity)
    "s19_mips_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      Similarity.mipsTopK(e, e.where(col("vec_id") < 8), k = 10)
        .orderBy("query_id", "rank")
    }),
  )

  /** The oracle statement of VectorFunctions.quantize — ONE copy
    * (round 2 shipped a rounding divergence in exactly this
    * expression; a fix must reach every oracle that quantizes or none).
    */
  private[queries] val quantExpr =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** The cosine statement shared with the c22 oracle (one copy, like
    * [[quantExpr]]).
    */
  private[queries] def cosineSql(aq: String, bq: String, an: String,
      bn: String): String = cosine(aq, bq, an, bn)

  private val qCte =
    s"""qv AS (SELECT vec_id, label,
       |    $quantExpr AS q
       |  FROM embeddings)""".stripMargin

  /** The oracle statement of VectorFunctions.srpBucket for a literal
    * plane set (shared by the s06 and s17 oracles' band expressions).
    */
  private def srpBucketSql(planes: Array[Array[Long]]): String =
    planes.zipWithIndex.map { case (plane, i) =>
      val terms = plane.zipWithIndex.collect {
        case (1L, j)  => s"+ q[${j + 1}]"
        case (-1L, j) => s"- q[${j + 1}]"
      }
      val dot = if (terms.isEmpty) "0" else terms.mkString(" ").stripPrefix("+ ")
      s"CASE WHEN ($dot) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
    }.mkString("\n      + ")

  private def cosine(aq: String, bq: String, an: String, bn: String) =
    s"list_dot_product($aq, $bq) / (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE)))"

  /** The s15 k-NN-graph statement through its ranked relation
    * (`ranked(node_id, neighbor_id, cosine, rank)`) — shared by the
    * s15 oracle and GraphQueries' g10 community oracle (the d19/d20
    * shared-CTE discipline: the graph and everything computed over it
    * replay ONE statement).
    */
  private[queries] def knnRankedCtes: String = {
    val bucket = (0 until 8).map { i =>
      s"CASE WHEN q[${i + 1}] >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""$qCte,
       |n AS (SELECT vec_id, q, $bucket AS bucket,
       |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
       |scored AS (
       |  SELECT qs.vec_id AS node_id, c.vec_id AS neighbor_id,
       |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
       |  FROM n qs JOIN n c ON c.bucket = qs.bucket AND c.vec_id <> qs.vec_id),
       |ranked AS (SELECT node_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY node_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)""".stripMargin
  }

  /** The two-iteration integer-Lloyd training + final-assignment CTE
    * chain (qv → init → a1 → m1 → c2 → a2; a2 carries vec_id, q, cid,
    * dist) replaying Similarity.kmeansAssign(k = 8, iters = 2) — shared
    * by the s08 oracle and DedupQueries' SemDeDup oracle (d13), so the
    * two replays cannot drift apart.
    */
  private[queries] def kmeansAssignCtes(source: String = "embeddings",
      k: Int = 8): String = {
    val l2 = (q: String, c: String) =>
      s"list_sum(list_transform(range(1, 65), i -> ($q[i] - $c[i]) * ($q[i] - $c[i])))"
    s"""qv AS (SELECT vec_id,
       |    $quantExpr AS q
       |  FROM $source),
       |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cv
       |  FROM qv ORDER BY vec_id LIMIT $k),
       |a1 AS (SELECT vec_id, q, cid FROM (
       |    SELECT v.vec_id, v.q, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${l2("v.q", "c.cv")}, c.cid) AS rn
       |    FROM qv v CROSS JOIN init c)
       |  WHERE rn = 1),
       |m1 AS (SELECT cid, i,
       |    CAST((sum(q[i]) - ((sum(q[i]) % count(*) + count(*)) % count(*)))
       |      // count(*) AS BIGINT) AS mv
       |  FROM a1 CROSS JOIN range(1, 65) t(i) GROUP BY cid, i),
       |c2 AS (SELECT p.cid, COALESCE(n.cv, p.cv) AS cv FROM init p
       |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS cv FROM m1 GROUP BY cid) n USING (cid)),
       |a2 AS (SELECT vec_id, q, cid, dist FROM (
       |    SELECT v.vec_id, v.q, c.cid, ${l2("v.q", "c.cv")} AS dist,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${l2("v.q", "c.cv")}, c.cid) AS rn
       |    FROM qv v CROSS JOIN c2 c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** PQ geometry shared by the s09 and s10 oracles (4 subspaces × 16
    * codes over 16-dim slices — must mirror the Spark calls' m /
    * codebookK / dsub or the replay silently trains a different index).
    */
  private val (pqM, pqDsub, pqK) = (4, 16, 16)

  private def pqL2(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${pqDsub + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  private def pqSlice(q: String, mi: Int) =
    s"list_slice($q, ${mi * pqDsub + 1}, ${(mi + 1) * pqDsub})"

  /** The per-subspace PQ training + encode CTE chain (two unrolled
    * integer-Lloyd iterations per subspace, then nearest-final-centroid
    * codes) — expects `qv` (quantized vectors) and `init` (k seed rows)
    * CTEs upstream; yields enc_0..enc_{m-1} and cb1_0..cb1_{m-1}.
    */
  private def pqPerSubCtes: String = (0 until pqM).map { mi =>
    s"""cb0_$mi AS (SELECT cid, ${pqSlice("cv", mi)} AS cv FROM init),
       |a1_$mi AS (SELECT vec_id, sub, cid FROM (
       |    SELECT v.vec_id, ${pqSlice("v.q", mi)} AS sub, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${pqL2(pqSlice("v.q", mi), "c.cv")}, c.cid) AS rn
       |    FROM qv v CROSS JOIN cb0_$mi c)
       |  WHERE rn = 1),
       |m1_$mi AS (SELECT cid, i,
       |    CAST((sum(sub[i]) - ((sum(sub[i]) % count(*) + count(*)) % count(*)))
       |      // count(*) AS BIGINT) AS mv
       |  FROM a1_$mi CROSS JOIN range(1, ${pqDsub + 1}) t(i) GROUP BY cid, i),
       |cb1_$mi AS (SELECT p.cid, COALESCE(n.cv, p.cv) AS cv FROM cb0_$mi p
       |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS cv FROM m1_$mi GROUP BY cid) n USING (cid)),
       |enc_$mi AS (SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${pqL2(pqSlice("v.q", mi), "c.cv")}, c.cid) AS rn
       |    FROM qv v CROSS JOIN cb1_$mi c)
       |  WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** s05's coarse-IVF CTE chain (label-mean centroids, cosine-ranked
    * assignments, lists = rn 1, probes = rn <= 2 for queries vec_id <
    * 8) — shared verbatim with the s10 composed index.
    */
  /** IVF coarse structure up to the inverted lists, shared by every
    * nprobe; [[ivfProbesFor]] appends a probe CTE for a given nprobe.
    */
  private val ivfListsCtes =
    s"""comp AS (SELECT vec_id, label, unnest(q) AS v, unnest(range(64)) AS pos FROM qv),
       |cent AS (SELECT label AS c_label, pos, CAST(round(avg(v)) AS BIGINT) AS cv
       |  FROM comp GROUP BY 1, 2),
       |centl AS (SELECT c_label, list(cv ORDER BY pos) AS c_q FROM cent GROUP BY 1),
       |centn AS (SELECT c_label, c_q, CAST(list_dot_product(c_q, c_q) AS BIGINT) AS c_norm FROM centl),
       |vn AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
       |ranked AS (SELECT v.vec_id, c.c_label,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${cosine("v.q", "c.c_q", "v.norm", "c.c_norm")} DESC, c.c_label) AS rn
       |  FROM vn v CROSS JOIN centn c),
       |lists AS (SELECT r.vec_id AS n_id, v.q AS n_q, v.norm AS n_norm, r.c_label AS list_label
       |  FROM ranked r JOIN vn v ON v.vec_id = r.vec_id WHERE r.rn = 1)""".stripMargin

  private def ivfProbesFor(nprobe: Int, name: String): String =
    s"""$name AS (SELECT r.vec_id AS query_id, v.q AS q_q, v.norm AS q_norm, r.c_label AS list_label
       |  FROM ranked r JOIN vn v ON v.vec_id = r.vec_id WHERE r.rn <= $nprobe AND r.vec_id < 8)""".stripMargin

  private val ivfCoarseCtes =
    s"""$ivfListsCtes,
       |${ivfProbesFor(2, "probes")}""".stripMargin

  /** s13: one projected column per j, the sign derived from md5("i:j")
    * exactly as the Scala side derives it, the sum the same ordered
    * index fold.
    */
  /** The s13 projection columns (shared by s13's oracle and s14's
    * projection CTE).
    */
  private val s13ProjCols: String = (0 until 16).map { j =>
    s"""  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(64), i ->
       |      CAST(embedding[i + 1] AS DOUBLE) *
       |      (CASE WHEN substr(md5(i || ':' || $j), 1, 1) < '8'
       |        THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))),
       |    (acc, x) -> acc + x) AS p$j""".stripMargin
  }.mkString(",\n")

  private val s13OracleSql: String =
    s"SELECT vec_id,\n$s13ProjCols\nFROM embeddings ORDER BY vec_id"

  /** s14 helper SQL: left-associated 16-term dot product / self-norm
    * over the projected columns — the identical textual association
    * the Spark side's reduce builds.
    */
  private def projDot(a: String, b: String): String =
    (0 until 16).map(i => s"$a.p$i * $b.p$i").mkString(" + ")

  /** s14: exact s01-rule ground truth (k=10) left-joined with the
    * projected-space top-10.
    */
  private val s14OracleSql: String = {
    val dot = (0 until 16).map(i => s"qs.p$i * c.p$i").mkString(" + ")
    val selfDot = (0 until 16).map(i => s"p$i * p$i").mkString(" + ")
    s"""WITH $qCte,
       |n AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM (SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
       |    FROM n qs JOIN n c ON c.vec_id <> qs.vec_id
       |    WHERE qs.vec_id < 8)) WHERE rn <= 10),
       |pr AS (SELECT vec_id,
       |$s13ProjCols
       |FROM embeddings),
       |pn AS (SELECT vec_id, ${(0 until 16).map(i => s"p$i").mkString(", ")},
       |    ($selfDot) AS nn FROM pr),
       |ap AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY pcos DESC, neighbor_id) AS rn
       |  FROM (SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ($dot) / (sqrt(qs.nn) * sqrt(c.nn)) AS pcos
       |    FROM pn qs JOIN pn c ON c.vec_id <> qs.vec_id
       |    WHERE qs.vec_id < 8)) WHERE rn <= 10),
       |hits AS (SELECT e.query_id, e.neighbor_id, a.query_id AS hit
       |  FROM ex e LEFT JOIN ap a
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
       |SELECT query_id, count(hit) AS n_hits,
       |  count(hit) / CAST(10 AS DOUBLE) AS recall_at_10
       |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** s04's oracle (round 9 — the last convertible `no_oracle` row):
    * the native `vec_cosine` expression accumulates dot and both
    * norms LEFT-TO-RIGHT in double over float-cast elements, then
    * dot / (sqrt·sqrt) — every step an IEEE correctly-rounded double
    * op, so an unrolled left-associated 64-term chain over
    * CAST(embedding[i] AS DOUBLE) replays the score BIT-FOR-BIT
    * (float→double casts are exact; 0.0 + p₁ ≡ p₁). The window
    * tie-break is the house (cosine desc, neighbor_id) rule.
    */
  private def s04OracleSql: String = {
    def chain(a: String, b: String) = (1 to 64)
      .map(i => s"CAST($a.embedding[$i] AS DOUBLE) * CAST($b.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val dot = chain("q", "c"); val na = chain("q", "q"); val nb = chain("c", "c")
    s"""WITH scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CASE WHEN ($na) = 0 OR ($nb) = 0 THEN 0.0
       |         ELSE ($dot) / (sqrt($na) * sqrt($nb)) END AS cosine
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 8)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored) t WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s13_random_projection" -> s13OracleSql,
    "s14_projected_recall" -> s14OracleSql,
    "s04_topk_native" -> s04OracleSql,
    // brute-force MIPS: the pruning path must reproduce this exactly
    "s19_mips_topk" ->
      s"""WITH $qCte,
         |scored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(list_dot_product(qs.q, c.q) AS BIGINT) AS dot
         |  FROM qv qs JOIN qv c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8)
         |SELECT query_id, rank, neighbor_id, dot FROM (
         |  SELECT query_id, neighbor_id, dot,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "s01_topk_bruteforce" ->
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the greedy MMR trajectory replayed literally: pick 1 is pure
    // relevance (mmr_score = rel — empty picked set, no penalty); each
    // later step drops the newest pick from the state, folds its sims
    // into the running max via greatest(), and re-runs the same
    // 0.5·rel − 0.5·maxsim argmax with the same id tie-break
    "s12_mmr_rerank" -> {
      val k = 5
      val steps = (2 to k).map { i =>
        val prev = i - 1
        val pick =
          s"p$i AS (SELECT query_id, n_id, $i AS pick, rel, sc AS mmr_score FROM (\n" +
            "    SELECT query_id, n_id, rel, 0.5 * rel - 0.5 * maxsim AS sc,\n" +
            "      row_number() OVER (PARTITION BY query_id\n" +
            "        ORDER BY 0.5 * rel - 0.5 * maxsim DESC, n_id) AS rn\n" +
            s"    FROM st$prev) WHERE rn = 1)"
        val nextState = if (i < k)
          s",\nst$i AS (SELECT t.query_id, t.n_id, t.rel, greatest(t.maxsim, s.sim) AS maxsim\n" +
            s"  FROM st$prev t JOIN p$i p ON p.query_id = t.query_id AND t.n_id <> p.n_id\n" +
            "  JOIN sims s ON s.query_id = t.query_id AND s.id_a = t.n_id AND s.id_b = p.n_id)"
        else ""
        pick + nextState
      }.mkString(",\n")
      val unionAll = (1 to k).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (SELECT qs.vec_id AS query_id, c.vec_id AS n_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS rel
         |  FROM n qs JOIN n c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8),
         |cand AS (SELECT query_id, n_id, rel FROM (
         |    SELECT query_id, n_id, rel,
         |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, n_id) AS rn
         |    FROM scored) WHERE rn <= 20),
         |cv AS (SELECT c.query_id, c.n_id, n.q, n.norm FROM cand c JOIN n ON n.vec_id = c.n_id),
         |sims AS (SELECT a.query_id, a.n_id AS id_a, b.n_id AS id_b,
         |    ${cosine("a.q", "b.q", "a.norm", "b.norm")} AS sim
         |  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.n_id <> b.n_id),
         |p1 AS (SELECT query_id, n_id, 1 AS pick, rel, rel AS mmr_score FROM (
         |    SELECT query_id, n_id, rel,
         |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, n_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |st1 AS (SELECT c.query_id, c.n_id, c.rel, s.sim AS maxsim
         |  FROM cand c JOIN p1 p ON p.query_id = c.query_id AND c.n_id <> p.n_id
         |  JOIN sims s ON s.query_id = c.query_id AND s.id_a = c.n_id AND s.id_b = p.n_id),
         |$steps
         |SELECT query_id, CAST(pick AS BIGINT) AS pick, n_id AS neighbor_id,
         |  rel, mmr_score
         |FROM ($unionAll) ORDER BY query_id, pick""".stripMargin
    },

    // two unrolled Lloyd iterations, every step exact integer/floor
    // arithmetic shared with Similarity.kmeansAssign
    "s08_kmeans_train" ->
      s"""WITH ${kmeansAssignCtes()}
         |SELECT cid, count(*) AS n_members, CAST(sum(dist) AS BIGINT) AS total_dist
         |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // PQ training + encode + ADC search replayed per subspace: for each
    // of the 4 subspaces the oracle repeats s08's two-iteration integer
    // k-means over the 16-dim slice, encodes every vector to its
    // nearest final centroid, and scores query x corpus by summing the
    // four slice distances to the ASSIGNED centroids (the ADC
    // approximation, stated literally)
    "s09_pq_topk" -> {
      val encJoins = (0 until pqM).map { mi =>
        s"JOIN enc_$mi e$mi ON e$mi.vec_id = e.vec_id JOIN cb1_$mi c$mi ON c$mi.cid = e$mi.cid"
      }.mkString("\n  ")
      val adc = (0 until pqM).map { mi =>
        pqL2(pqSlice("qy.q", mi), s"c$mi.cv")
      }.mkString(" + ")
      s"""WITH qv AS (SELECT vec_id,
         |    $quantExpr AS q
         |  FROM embeddings),
         |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cv
         |  FROM qv ORDER BY vec_id LIMIT $pqK),
         |$pqPerSubCtes,
         |scored AS (SELECT qy.vec_id AS query_id, e.vec_id AS n_id,
         |    $adc AS adc
         |  FROM qv qy CROSS JOIN qv e
         |  $encJoins
         |  WHERE qy.vec_id < 8 AND e.vec_id <> qy.vec_id),
         |ranked AS (SELECT query_id, n_id, adc,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, n_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, n_id AS neighbor_id, CAST(adc AS BIGINT) AS adc_dist
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "s07_filtered_topk" ->
      s"""WITH $qCte,
         |n AS (SELECT vec_id, label, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8 AND c.label % 2 = 0)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s02_topk_lsh" -> {
      val bucket = (0 until 8).map { i =>
        s"CASE WHEN q[${i + 1}] >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q, $bucket AS bucket,
         |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c ON c.bucket = qs.bucket AND c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },

    // s02's oracle with the query restriction dropped: all nodes rank
    // their same-bucket neighbors (CTE chain shared with the g10
    // community oracle — the graph and its clustering cannot drift)
    "s15_knn_graph" ->
      s"""WITH $knnRankedCtes
         |SELECT node_id, rank, neighbor_id, cosine FROM ranked
         |WHERE rank <= 3 ORDER BY node_id, rank""".stripMargin,

    // s15's oracle generalized to the OR-construction: two seeded SRP
    // bands (plane literals regenerated from the SAME bandPlanes seeds
    // the engine uses), candidate pairs distinct'd across bands, exact
    // cosine re-rank
    "s17_knn_graph_banded" -> {
      val bandCtes = (0 until 2).map { b =>
        val bucket = srpBucketSql(
          graft.ops.Similarity.bandPlanes(b, bitsPerBand = 6, dim = 64))
        s"SELECT vec_id, $b AS band, $bucket AS bucket FROM n"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q,
         |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |bands AS (
         |  $bandCtes),
         |pairs AS (SELECT DISTINCT x.vec_id AS node_id, y.vec_id AS neighbor_id
         |  FROM bands x JOIN bands y
         |    ON y.band = x.band AND y.bucket = x.bucket AND y.vec_id <> x.vec_id),
         |scored AS (SELECT p.node_id, p.neighbor_id,
         |    ${cosine("a.q", "c.q", "a.norm", "c.norm")} AS cosine
         |  FROM pairs p JOIN n a ON a.vec_id = p.node_id
         |    JOIN n c ON c.vec_id = p.neighbor_id)
         |SELECT node_id, rank, neighbor_id, cosine FROM (
         |  SELECT node_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY node_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY node_id, rank""".stripMargin
    },

    "s06_srp_lsh_topk" -> {
      val bucket = srpBucketSql(
        graft.functions.VectorFunctions.srpPlanes(bits = 8, dim = 64))
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q,
         |    $bucket AS bucket,
         |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c ON c.bucket = qs.bucket AND c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },

    // the s06 statement with the probe ring: a candidate joins when
    // the corpus bucket equals the query bucket OR any xor-one-bit
    // variant — the literal 2^i list generated, not transcribed
    "s18_multiprobe_topk" -> {
      val bucket = srpBucketSql(
        graft.functions.VectorFunctions.srpPlanes(bits = 8, dim = 64))
      val ring = (0 until 8).map(i => s"xor(qs.bucket, ${1L << i})")
        .mkString(", ")
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q,
         |    $bucket AS bucket,
         |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c
         |    ON c.bucket IN (qs.bucket, $ring) AND c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },

    "s10_ivfpq_topk" -> {
      val encJoins = (0 until pqM).map { mi =>
        s"JOIN enc_$mi e$mi ON e$mi.vec_id = l.n_id JOIN cb1_$mi c$mi ON c$mi.cid = e$mi.cid"
      }.mkString("\n  ")
      val adc = (0 until pqM).map { mi =>
        pqL2(pqSlice("p.q_q", mi), s"c$mi.cv")
      }.mkString(" + ")
      s"""WITH $qCte,
         |$ivfCoarseCtes,
         |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cv
         |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $pqK)),
         |$pqPerSubCtes,
         |scored AS (SELECT p.query_id, l.n_id, $adc AS adc
         |  FROM lists l JOIN probes p ON l.list_label = p.list_label
         |  $encJoins
         |  WHERE l.n_id <> p.query_id),
         |rankedq AS (SELECT query_id, n_id, adc,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, n_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, n_id AS neighbor_id, CAST(adc AS BIGINT) AS adc_dist
         |FROM rankedq WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "s05_topk_ivf" ->
      s"""WITH $qCte,
         |$ivfCoarseCtes,
         |scored AS (SELECT p.query_id, l.n_id,
         |    ${cosine("p.q_q", "l.n_q", "p.q_norm", "l.n_norm")} AS cosine
         |  FROM lists l JOIN probes p ON l.list_label = p.list_label
         |  WHERE l.n_id <> p.query_id)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, n_id AS neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // recall replay: the s01 brute chain and the s05 IVF chain side by
    // side in one statement (CTE names are disjoint), matched on
    // (query, neighbor); the division is over exact integers cast to
    // DOUBLE, so even recall hash-matches
    "s16_nprobe_sweep" -> {
      def point(np: Int): String =
        s"""SELECT CAST($np AS BIGINT) AS nprobe, b.query_id AS query_id,
           |  CAST(count(i.n_id) AS BIGINT) AS n_hits,
           |  CAST(count(i.n_id) AS DOUBLE) / 5 AS recall_at_5
           |FROM brank b LEFT JOIN irank$np i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.n_id
           |GROUP BY 1, 2""".stripMargin
      def chain(np: Int): String =
        s"""${ivfProbesFor(np, s"probes$np")},
           |iscored$np AS (SELECT p.query_id, l.n_id,
           |    ${cosine("p.q_q", "l.n_q", "p.q_norm", "l.n_norm")} AS cosine
           |  FROM lists l JOIN probes$np p ON l.list_label = p.list_label
           |  WHERE l.n_id <> p.query_id),
           |irank$np AS (SELECT query_id, n_id FROM (
           |    SELECT query_id, n_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY cosine DESC, n_id) AS rank
           |    FROM iscored$np)
           |  WHERE rank <= 5)""".stripMargin
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |bscored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8),
         |brank AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM bscored)
         |  WHERE rank <= 5),
         |$ivfListsCtes,
         |${chain(1)},
         |${chain(2)},
         |${chain(4)}
         |SELECT * FROM (${point(1)} UNION ALL ${point(2)} UNION ALL ${point(4)})
         |ORDER BY nprobe, query_id""".stripMargin
    },

    "s11_ann_recall" ->
      s"""WITH $qCte,
         |n AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |bscored AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosine("qs.q", "c.q", "qs.norm", "c.norm")} AS cosine
         |  FROM n qs JOIN n c ON c.vec_id <> qs.vec_id
         |  WHERE qs.vec_id < 8),
         |brank AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM bscored)
         |  WHERE rank <= 5),
         |$ivfCoarseCtes,
         |iscored AS (SELECT p.query_id, l.n_id,
         |    ${cosine("p.q_q", "l.n_q", "p.q_norm", "l.n_norm")} AS cosine
         |  FROM lists l JOIN probes p ON l.list_label = p.list_label
         |  WHERE l.n_id <> p.query_id),
         |irank AS (SELECT query_id, n_id FROM (
         |    SELECT query_id, n_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, n_id) AS rank
         |    FROM iscored)
         |  WHERE rank <= 5)
         |SELECT b.query_id AS query_id,
         |  CAST(count(i.n_id) AS BIGINT) AS n_hits,
         |  CAST(count(i.n_id) AS DOUBLE) / 5 AS recall_at_5
         |FROM brank b LEFT JOIN irank i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.n_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s03_centroid_assign" ->
      s"""WITH $qCte,
         |comp AS (SELECT vec_id, label, unnest(q) AS v, unnest(range(64)) AS pos FROM qv),
         |cent AS (SELECT label AS c_label, pos, CAST(round(avg(v)) AS BIGINT) AS cv
         |  FROM comp GROUP BY 1, 2),
         |centl AS (SELECT c_label, list(cv ORDER BY pos) AS c_q FROM cent GROUP BY 1),
         |centn AS (SELECT c_label, c_q, CAST(list_dot_product(c_q, c_q) AS BIGINT) AS c_norm FROM centl),
         |vn AS (SELECT vec_id, label, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv),
         |scored AS (SELECT v.vec_id, v.label, c.c_label,
         |    ${cosine("v.q", "c.c_q", "v.norm", "c.c_norm")} AS cosine
         |  FROM vn v CROSS JOIN centn c),
         |best AS (SELECT vec_id, label, c_label,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, c_label) AS rn
         |  FROM scored)
         |SELECT CAST(label AS BIGINT) AS label, CAST(c_label AS BIGINT) AS predicted,
         |  count(*) AS n
         |FROM best WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
