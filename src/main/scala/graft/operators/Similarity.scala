package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2): brute-force cosine top-k as the exact baseline and
  * a random-hyperplane LSH bucketed variant as the scale path.
  *
  * The top-k never global-sorts: `topKPerGroup` reduces each input
  * partition to k rows per group first (the per-mapper heap of a
  * MapReduce top-k job), then resolves the final k on the tiny
  * residue — two narrow windows instead of one giant one, so a skewed
  * or small group count cannot serialize the cluster.
  */
object Similarity {

  private val K = 5
  private val NQ = 20 // query set: vec_id < NQ

  /** Per-group top-k by (orderCol desc, tieCol asc). A single
    * row_number window suffices: Catalyst's WindowGroupLimit rule
    * inserts a map-side (pre-shuffle) partial limit, so each partition
    * ships at most k rows per group — the per-mapper-heap MapReduce
    * pattern, derived automatically from the declarative form. (A
    * manual two-phase window was measured to plan a redundant second
    * exchange.) */
  private[operators] def topKPerGroup(
      df: DataFrame, group: Column, order: Column, tie: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order.desc, tie.asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  private def queries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Exact top-k neighbors: broadcast the query block, one streaming
    * pass over the candidate corpus (this is how brute-force kNN
    * scales — the big side is never shuffled, only reduced). */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val cand = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val scored = cand.crossJoin(broadcast(queries(s, d)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    topKPerGroup(scored, col("q_id"), col("cos"), col("vec_id"), K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Range (threshold) similarity search — the ε-neighborhood twin of
    * top-k kNN: ALL neighbors at cosine ≥ τ per query, however many
    * there are. Same scale shape as knnBrute (query block broadcast,
    * one streaming pass over the corpus, output result-scale, corpus
    * never shuffled). τ = 0.4 sits ≥ 1e-5 from every pair's cosine at
    * every test SF, so double-accumulated floats can't flip
    * membership; only ids are emitted. */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    val cand = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    cand.crossJoin(broadcast(queries(s, d)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
      .filter(col("cos") >= 0.4)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .orderBy(col("q_id"), col("neighbor_id"))
  }

  /** Embedding hygiene stats — the sanity pass every vector pipeline
    * runs before indexing: dimension, squared L2 norm (norm² not norm:
    * sqrt is libm, the fold is a fixed-order exactly-rounded double
    * chain both engines replay bit-for-bit), zero-component count.
    * Map-local, one pass. */
  def norms(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        expr("aggregate(embedding, 0D, (a, x) -> " +
          "a + cast(x as double) * cast(x as double))").as("norm_sq"),
        expr("cast(size(filter(embedding, x -> x = cast(0 as float))) " +
          "as bigint)").as("n_zeros"))
      .orderBy(col("vec_id"))

  /** Symmetric int8 quantization per vector (the storage-shrink step
    * of an embedding pipeline): q_i = round(x_i * 127 / max|x|).
    * Integer/mirrored-IEEE outputs so the oracle compares exactly. */
  def quantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("m",
        expr("cast(array_max(transform(embedding, x -> abs(x))) as double)"))
      .withColumn("q", expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 127 / m) as bigint))"))
      .select(col("vec_id"), col("m").as("scale"),
        expr("aggregate(q, 0L, (a, v) -> a + v)").as("q_sum"),
        expr("array_min(q)").as("q_min"),
        expr("array_max(q)").as("q_max"))
      .orderBy(col("vec_id"))

  /** Exact-integer centroids of an assignment (cell, embedding):
    * element-wise sums of round(v * 1e6) per cell — order-independent
    * (unlike a float avg whose shuffle-order rounding is
    * nondeterministic), cast to float identically on both engines.
    * Cosine is scale-invariant, so the un-divided sum ranks cells
    * exactly like the mean would. */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("cell"), col("i"))
      .agg(sum(round(col("v").cast("double") * 1000000).cast("long")).as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), s -> cast(s.m as float))")
        .as("centroid"))

  /** Nearest-centroid assignment (the Lloyd E-step), r21 shape: the
    * centroid set is CONSTANT model state (k cells), so it folds into
    * the plan as literals — the lmScore/perceptron constant-model
    * pattern — and each vector's winning cell is one row-local
    * array_max over the k-entry candidate array. The assignment pass
    * is therefore MAP-ONLY: no crossJoin ×k row blowup, no vec-keyed
    * aggregate exchange (the r18 shape paid both per consumer).
    * array_max uses the same struct ordering the old
    * max(struct(cos, -cell)) aggregate used, so the winning cell —
    * ties to the smallest id — and the winning cos are bit-identical
    * and every downstream oracle hash is unchanged. */
  private def bestCellExpr(cents: Seq[(Long, Seq[Float])],
      emb: Column): Column =
    array_max(array(cents.map { case (cl, ctr) =>
      struct(
        VectorFunctions.cosineSim(emb, typedLit(ctr)).as("cos"),
        lit(-cl).as("nc"))
    }: _*))

  private def assignCells(vecs: DataFrame,
      cents: Seq[(Long, Seq[Float])]): DataFrame =
    vecs.withColumn("b", bestCellExpr(cents, col("embedding")))
      .select(col("vec_id"), (-col("b.nc")).as("cell"), col("embedding"))

  /** IVF ANN with a TRAINED coarse quantizer: k-means via two Lloyd
    * iterations (seeded by the per-label centroids, so k = the label
    * count), nprobe = 3. Queries score all trained centroids (tiny,
    * broadcast both ways), keep their nprobe nearest cells, and only
    * the vectors assigned to those cells are ranked exactly — the
    * corpus-side scan is pruned to nprobe/ncells of the data, the
    * property that matters at 100 TB.
    *
    * Full hash-match oracle despite the iterative training: every
    * M-step centroid is an EXACT integer sum (`centroidsOf`), every
    * E-step argmax breaks ties on cell id, and cosine (dot, x², sqrt,
    * divide) is correctly-rounded IEEE on both engines — so the
    * DuckDB mirror replays the identical two iterations bit-for-bit.
    * Fixed iteration count (the PageRank lesson): the loop only
    * BUILDS the lazy plan; no per-round action, one job.
    *
    * The quantizer trains on a deterministic 50% hash sample of the
    * corpus, not the full corpus: at 100 TB nobody posexplodes every
    * vector to fit cluster centers — a sample bounds the training
    * shuffle while the assignment/probe/scan phases still cover ALL
    * vectors. The sample predicate (md5-then-fold parity, the
    * measured-uniform construction from txt_sample_stratified) is
    * mirrored in the DuckDB oracle. */
  /** The trained centroids COLLECTED as driver-side constant model
    * state: label-seeded, two Lloyd rounds over the deterministic 50%
    * hash sample. r21: each M-step's k-row centroid table collects to
    * the driver (bounded — k = label count) and the following E-step
    * folds it back in as literals, so a training round is ONE action
    * whose assignment side is map-only. The r18 lazy-chain shape
    * re-ran the whole training per consumer reference (the r21 plan
    * audit counted 16 parquet scans in sim_knn_ivf, 48 in
    * sim_knn_ivfpq — exchange reuse never collapsed them); collecting
    * the constant-size artifact once is exactly what a production
    * pipeline does with its index files, and ml_kmeans' centroid
    * pattern already established the discipline. Values unchanged:
    * same integer M-step sums, same IEEE cosine E-step, same
    * smaller-cell tie-break. */
  private[graft] def collectedCentroids(s: SparkSession,
      d: String): Seq[(Long, Seq[Float])] = {
    val e = Tables.embeddings(s, d)
    val trainSample = pmod(graft.functions.RollingHash.rollingHash(
      md5(concat(lit("ivf-"), col("vec_id").cast("string"))
        .cast("binary"))), lit(2L)) === 0L
    val samp = e.filter(trainSample)
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint() // sample-scale; read by all three M-steps
    try {
      def collected(df: DataFrame): Seq[(Long, Seq[Float])] =
        df.collect() // k rows — constant model state, driver-scale
          .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq))
          .sortBy(_._1).toSeq
      val c0 = collected(centroidsOf(
        samp.select(col("label").cast("long").as("cell"), col("embedding"))))
      val c1 = collected(centroidsOf(assignCells(samp, c0)))
      collected(centroidsOf(assignCells(samp, c1)))
    } finally org.apache.spark.sql.graftshim.Shim.releaseCheckpoint(samp)
    // ^ r22: the 50% training sample's blocks release after the last
    // M-step collect (its last consumer) — the r21 verdict's leak item
  }

  /** Collected centroid rows as a (cell, centroid) frame — the
    * spec/probe-side view (tiny, broadcast by consumers). */
  private def centroidFrame(s: SparkSession,
      cents: Seq[(Long, Seq[Float])]): DataFrame = {
    val sp = s
    import sp.implicits._
    cents.toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<float>"))
  }

  /** The trained centroid set as a DataFrame — the spec-side view of
    * [[collectedCentroids]]. */
  private[graft] def trainedCentroids(s: SparkSession, d: String): DataFrame =
    centroidFrame(s, collectedCentroids(s, d))

  /** Corpus-wide (vec_id, cell, embedding) assignment to the trained
    * cells — exposed for the training-effect spec. Map-only (the
    * trained centroids ride as literals). */
  private[graft] def trainedCells(s: SparkSession, d: String): DataFrame =
    assignCells(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      collectedCentroids(s, d))

  /** K-means clustering of the embedding corpus as a first-class
    * operator — the semantic-diversity / topic-bucketing primitive a
    * training-data pipeline runs before sampling (cluster then
    * stratify), exposing the SAME trained cells knnIvf probes. Scale
    * shape: training touches only the deterministic 50% sample
    * (constant-size centroid state, broadcast every round), the
    * corpus-wide assignment is one broadcast-join pass, and the
    * output is cell-scale. Emits per-cluster size + id bounds +
    * checksum — the audit record that pins the full assignment
    * without shipping vectors. */
  def kmeansClusters(s: SparkSession, d: String): DataFrame =
    trainedCells(s, d)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"),
        sum(col("vec_id")).as("id_checksum"))
      .orderBy(col("cell"))

  /** Cluster-then-STRATIFY diversity sampling — the step a
    * training-data pipeline runs right after [[kmeansClusters]]:
    * up to 5 representatives per k-means cell, picked by a
    * deterministic md5-fold rank (not Spark's sample(), whose
    * partition-dependent RNG cannot hash-match an oracle), so the
    * semantic-diversity sample is reproducible run-to-run. One
    * cell-keyed window over the assignment; output is cells×5-scale
    * at any SF. */
  def clusterSample(s: SparkSession, d: String): DataFrame =
    trainedCells(s, d)
      .select(col("vec_id"), col("cell"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cell")).orderBy(
          graft.functions.RollingHash.rollingHash(
            md5(concat(lit("cs-"), col("vec_id").cast("string"))
              .cast("binary"))),
          col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("cell"), col("rk"), col("vec_id"))
      .orderBy(col("cell"), col("rk"))

  /** Index MAINTENANCE audit — what a vector pipeline runs on every
    * arriving batch to decide whether the trained k-means index is
    * going stale: assign the new batch (the %5≡0 slice, the repo's
    * batch convention) to the EXISTING trained centroids without
    * retraining, and publish per-cell freshness stats — how many new
    * vectors landed, and how well they fit (min / mean / max cosine
    * to their centroid, in floor-micro units: floor(cos·10⁶) is the
    * same IEEE multiply-then-floor on both engines, where a raw cast
    * truncates in Spark but rounds in DuckDB). Drops in fit cosine
    * signal drift → retrain. Constant centroid broadcast, map-side
    * argmax partials, cell-scale output. */
  def kmeansUpdate(s: SparkSession, d: String): DataFrame = {
    val cents = collectedCentroids(s, d)
    val batch = Tables.embeddings(s, d)
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    batch.withColumn("b", bestCellExpr(cents, col("embedding")))
      .select(col("vec_id"), (-col("b.nc")).as("cell"),
        floor(col("b.cos") * 1000000).cast("long").as("cos_micro"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_new"),
        min(col("cos_micro")).as("min_cos_micro"),
        // sum not mean: integer division of a possibly-NEGATIVE sum
        // truncates toward zero in Spark but floors in DuckDB
        sum(col("cos_micro")).as("sum_cos_micro"),
        max(col("cos_micro")).as("max_cos_micro"))
      .orderBy(col("cell"))
  }

  /** Metadata-FILTERED vector search — the production "WHERE
    * metadata = X" ANN query (every real vector store call carries
    * one): each query searches only the corpus slice with its target
    * label. The filter is applied BEFORE ranking via the join
    * predicate itself (label equi-join with the broadcast query
    * block) — pre-filtering, not post-filtering an unfiltered top-k,
    * which silently returns < k rows whenever the filter is
    * selective. The corpus streams once, each vector scoring only
    * the queries whose filter it satisfies (label-fraction of the
    * crossJoin work), and the map-side WindowGroupLimit keeps k rows
    * per query per partition. Rank margins measured ≥ 7.4e-5 at
    * every test SF. */
  def knnFiltered(s: SparkSession, d: String): DataFrame = {
    val cand = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"))
    val q = queries(s, d)
      .withColumn("target_label", (col("q_id") + 3L) % 10L)
    val scored = cand.join(broadcast(q),
        col("label") === col("target_label") &&
          col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    topKPerGroup(scored, col("q_id"), col("cos"), col("vec_id"), K)
      .select(col("q_id"), col("target_label"),
        col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Matryoshka two-stage search (MRL, Kusupati et al. 2022,
    * arXiv:2205.13147): score the cheap PREFIX of each embedding
    * first (dims 1..32 — MRL-trained vectors front-load information
    * into the prefix; even on these untrained synthetic vectors half
    * the dot-product work buys 84% mean recall@5), then re-rank only
    * the 64-deep shortlist with the full 64-dim cosine. The coarse pass streams the corpus exactly
    * like [[knnBrute]] (query block broadcast, map-side
    * WindowGroupLimit keeps at most 64 rows per query per partition
    * before the shuffle), and the exact pass touches 64 rows per
    * query — result-scale, which is the entire point at billions of
    * vectors. Both stages' rank margins measured ≥ 4.6e-6 at every
    * test SF, orders above fixed-order double noise, so the DuckDB
    * mirror reproduces the identical shortlist and final ranking. */
  def knnMrl(s: SparkSession, d: String): DataFrame = {
    val shortDepth = 64
    val cand = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("slice(embedding, 1, 32)").as("pref"))
    val q = queries(s, d)
      .withColumn("q_pref", expr("slice(q_emb, 1, 32)"))
    val coarse = cand.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("pcos",
        VectorFunctions.cosineSim(col("q_pref"), col("pref")))
    val shortlist = topKPerGroup(coarse, col("q_id"), col("pcos"),
      col("vec_id"), shortDepth).drop("rank")
    val exact = shortlist.withColumn("cos",
      VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    topKPerGroup(exact, col("q_id"), col("cos"), col("vec_id"), K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ANN index-quality audit — recall@k of the IVF index against the
    * exact brute-force ground truth, the evaluation every production
    * vector deployment publishes before (and while) serving an
    * approximate index: per query, how many of the true top-k the
    * probed index returned, the ids it missed (as an id checksum so
    * the full miss set is pinned without shipping rows), and recall
    * in basis points. Composes [[knnBrute]] and [[knnIvf]] — both
    * emit result-scale (NQ·K) rows — so the audit join itself is
    * free at any corpus size; at 100 TB the ground-truth side is the
    * one-off expensive pass (run over a SAMPLED query set, exactly
    * the shape here), the index side is the cheap probe, and this is
    * the number that decides nprobe/retrain. Both sub-pipelines are
    * deterministic with pinned rank margins, so the DuckDB twin
    * recomputes truth, approximation, and every per-query count. */
  def recallAudit(s: SparkSession, d: String): DataFrame = {
    val truth = knnBrute(s, d).select(col("q_id"), col("neighbor_id"))
    val approx = knnIvf(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        sum(when(col("hit").isNull, col("neighbor_id")).otherwise(0L))
          .as("missed_id_sum"))
      .withColumn("recall_bps", expr("(10000 * n_hits) div k"))
      .orderBy(col("q_id"))
  }

  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    val cents = collectedCentroids(s, d)
    val c2 = centroidFrame(s, cents)
    // final corpus-wide assignment to the TRAINED cells (map-only)
    val corpus = assignCells(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), cents)
    val probed = queries(s, d).crossJoin(broadcast(c2))
      .withColumn("cdist", VectorFunctions.cosineSim(col("q_emb"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cdist").desc, col("cell"))))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    val cand = corpus
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    topKPerGroup(cand, col("q_id"), col("cos"), col("vec_id"), K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Rademacher (±1) hyperplane entries from the parity of the first
    * hex char of md5("j-k") — iid Bernoulli(1/2) bits, identically
    * computable in DuckDB SQL (md5 agrees across engines).
    * Sign-random-projection LSH is valid with ±1 entries (Charikar
    * STOC'02 admits any symmetric distribution); a linear-congruential
    * bit was measured to cost recall (0.46 vs 0.58) because bit 16 of
    * a*idx+c is linear in idx, correlating the plane rows. */
  private[operators] def md5Plane(j: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { k =>
      val dig = md.digest(s"$j-$k".getBytes("UTF-8"))
      val hexChar = "0123456789abcdef".charAt((dig(0) >> 4) & 0xf)
      if ((hexChar.toInt & 1) == 1) 1.0 else -1.0
    }
  }

  /** LSH-bucketed ANN: 12 ±1 hyperplanes -> 12-bit signature ->
    * 4 bands x 3 bits. Candidates = corpus vectors sharing at least
    * one band with the query; exact cosine re-ranks the candidates.
    * Full hash-match oracle: the plane entries are ±1 from md5-hex
    * parity and the dot products accumulate in double in index order
    * on both engines, so signatures agree bit-exactly. */
  def knnLsh(s: SparkSession, d: String): DataFrame = {
    val planes = 12
    val bandBits = 3
    val hp: Array[Array[Double]] =
      Array.tabulate(planes)(md5Plane(_, 64))
    def sigExpr(embCol: String): Column =
      graft.functions.VectorFunctions.hyperplaneSig(
        col(embCol), hp.map(_.toSeq).toSeq)
    def bandsOf(df: DataFrame, embCol: String): DataFrame =
      df.withColumn("sig", sigExpr(embCol))
        .select(df.columns.toIndexedSeq.map(col) :+ explode(expr(
          s"""transform(sequence(0, ${planes / bandBits - 1}),
              b -> named_struct('band', b,
                    'bv', (sig >> (b * $bandBits)) & ${(1 << bandBits) - 1}))"""))
          .as("bb"): _*)
        .select(df.columns.toIndexedSeq.map(col) :+ col("bb.band").as("band") :+
          col("bb.bv").as("bv"): _*)
    // Bands carry IDS ONLY into the dedup: a vector pair sharing
    // multiple bands must collapse to one candidate, and running that
    // distinct over (q_id, vec_id) ships 16 bytes/row through the
    // exchange instead of ~550 (two 64-dim arrays) — the embeddings
    // are re-attached AFTER the dedup (corpus side streams against
    // the candidate-scale id set; query block is a constant
    // broadcast).
    val qBands = bandsOf(queries(s, d).select(col("q_id"), col("q_emb")),
      "q_emb").select(col("q_id"), col("band"), col("bv"))
    val cBands = bandsOf(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "embedding").select(col("vec_id"), col("band"), col("bv"))
    val candIds = cBands.join(broadcast(qBands), Seq("band", "bv"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val cand = candIds
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      .join(broadcast(queries(s, d).select(col("q_id"), col("q_emb"))),
        Seq("q_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    topKPerGroup(cand, col("q_id"), col("cos"), col("vec_id"), K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** emb_pq — PRODUCT QUANTIZATION (Jégou et al. 2011, the vector
    * compression behind every billion-scale ANN index): the 64-dim
    * space splits into m=4 subspaces of 16 dims, each with its own
    * k=10 codebook, so a vector compresses to 4 code bytes (64× under
    * float32) while distances remain computable per-subspace. ALL
    * arithmetic is exact integer micro-units: components quantize to
    * round(v·10⁶), codebooks train by label-seeded Lloyd rounds where
    * the M-step is an integer mean (sum div count) and the E-step
    * argmin of integer squared L2 breaks ties to the smaller code —
    * so the learned codebooks AND every assignment hash-match the
    * DuckDB twin that replays the identical two rounds. Scale shape:
    * training explodes only the deterministic 50% hash sample
    * (codebook state is m·k·16 longs, constant); the corpus-wide
    * encode joins the BROADCAST codebook and reduces per (vec,
    * subspace) map-side. Emits per-vector codes + total squared
    * reconstruction error (the fidelity audit). */
  def pq(s: SparkSession, d: String): DataFrame =
    // r22: the pivoted encode — one vec-keyed aggregate produces the
    // per-vector row directly (cells and d2 bit-identical to the old
    // pqAssign + re-pivot, see pqCodesPivoted), dropping the second
    // corpus exchange this query paid to re-group by vec_id
    pqCodesPivoted(pqComponents(Tables.embeddings(s, d)), pqCodebook(s, d))
      .select(col("vec_id"),
        (col("p0") % PackRadix).as("c0"), (col("p1") % PackRadix).as("c1"),
        (col("p2") % PackRadix).as("c2"), (col("p3") % PackRadix).as("c3"),
        (expr(s"p0 div $PackRadix") + expr(s"p1 div $PackRadix") +
          expr(s"p2 div $PackRadix") + expr(s"p3 div $PackRadix"))
          .as("err_sq"))
      .orderBy(col("vec_id"))

  /** sim_knn_pq — ANN search over the PQ codes via ASYMMETRIC DISTANCE
    * COMPUTATION (the search half of Jégou et al.'s PQ): each query
    * precomputes a (subspace × code) table of integer squared
    * distances to every codebook centroid (m·k longs per query —
    * constant), and a candidate's distance is 4 TABLE LOOKUPS summed,
    * never a 64-dim float op. The corpus side ships ONLY (vec_id,
    * code) rows through the plan — the compressed representation is
    * what gets scanned, which is the entire point at 10⁹ vectors:
    * 4 bytes/vector instead of 256, and the distance math collapses
    * to integer adds. Exact integer end-to-end (the table entries are
    * the same micro-unit d² the encoder minimizes), so the ranking
    * hash-matches the oracle. topKPerGroup keeps the per-query top-k
    * map-side (WindowGroupLimit), never a global sort. */
  def knnPq(s: SparkSession, d: String): DataFrame = {
    // r22 shape (the r21 verdict's ranked item 3): the per-query ADC
    // tables COLLECT as constant model state (adcTables) and the
    // corpus side is the pivoted one-row-per-vector encode, so the
    // scoring pass is MAP-ONLY — the corpus×NQ ADC rows no longer
    // cross an exchange on (q_id, vec_id); the only shuffle after the
    // encode is the WindowGroupLimit-pruned top-k. Same integer adc
    // per (q, vec) — sum of the same four dt entries — so ranking and
    // tie-breaks hash-match the oracle unchanged.
    val book = pqCodebook(s, d)
    val (qIds, dt) = adcTables(s, d, book)
    val codes = pqCodesPivoted(pqComponents(Tables.embeddings(s, d)), book)
      .select(col("vec_id"),
        (col("p0") % PackRadix).as("c0"), (col("p1") % PackRadix).as("c1"),
        (col("p2") % PackRadix).as("c2"), (col("p3") % PackRadix).as("c3"))
    val adc = adcExplode(codes, qIds, dt, _ => lit(true))
    topKPerGroup(adc, col("q_id"), -col("adc"), col("vec_id"), K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("adc"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** sim_knn_ivfpq — the COMPOSED billion-scale index (Jégou et al.
    * 2011 §IV's IVFADC): the trained IVF coarse quantizer prunes the
    * corpus to nprobe cells, and ASYMMETRIC DISTANCE over the PQ
    * codes ranks only those survivors — both halves are the ALREADY
    * TRAINED artifacts ([[trainedCentroids]], [[pqCodebook]]), reused
    * as a real pipeline reuses its index files. Scale shape is the
    * product of the halves': the scan touches nprobe/ncells of the
    * corpus, and what it touches is (vec_id, 4-byte code) rows plus a
    * broadcast (cell, q) probe list and a broadcast m·k distance
    * table — raw vectors appear NOWHERE in the corpus-scale scan,
    * which is the entire point at 10⁹ vectors (pruned I/O × 64:1
    * compression). A final EXACT re-rank of the ADC top-[[Shortlist]]
    * (Jégou's IVFADC+R) fetches just R=64 vectors per query — a
    * result-scale lookup, not a scan — and recovers the recall the
    * L2-on-unnormalized-codes proxy loses against the cosine ground
    * truth (measured 0.17 → ≥0.44 at the test SF). Exact integers in
    * the ADC phase and the same correctly-rounded IEEE cosine as
    * sim_knn_ivf in the re-rank, so the composition hash-matches the
    * oracle that joins the two replayed trainings. */
  /** Run two INDEPENDENT trained-artifact builds concurrently (guide
    * §2.6): each side is a chain of small driver-synchronized jobs
    * (Lloyd collects), so overlapping the two chains halves the
    * sequential action latency the composed index pays; failures
    * rethrow unwrapped. */
  private def par2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fua = pool.submit(
        new java.util.concurrent.Callable[A] { def call(): A = fa() })
      val fub = pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = fb() })
      def get[T](f: java.util.concurrent.Future[T]): T =
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      (get(fua), get(fub))
    } finally pool.shutdown()
  }

  def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    // the IVF coarse quantizer and the PQ codebook train on disjoint
    // artifacts — their collect chains overlap (par2, §2.6)
    val (cents, bookDt) = par2(
      () => collectedCentroids(s, d),
      () => {
        val b = pqCodebook(s, d)
        (b, adcTables(s, d, b))
      })
    val (book, (qIds, dt)) = bookDt
    val c2 = centroidFrame(s, cents)
    // query probe list: nprobe nearest trained cells per query —
    // COLLECTED as constant model state (NQ·nprobe pairs; same
    // cosine ranking and low-cell tie-break as the r21 broadcast
    // frame, so the probed sets are identical)
    val probedCells: Map[Long, Seq[Long]] =
      queries(s, d).crossJoin(broadcast(c2))
        .withColumn("cdist",
          VectorFunctions.cosineSim(col("q_emb"), col("centroid")))
        .withColumn("crank", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cdist").desc, col("cell"))))
        .filter(col("crank") <= nprobe)
        .select(col("q_id"), col("cell"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).sorted.toSeq }
    // corpus side (r22): the coarse IVF cell rides the component
    // explode and BOTH pivot aggregates (it is vec-functionally
    // dependent, so the groups are unchanged) — the codes arrive as
    // (vec_id, ivf_cell, c0..c3) one row per vector, removing the
    // corpus×corpus vec_id join the r21 shape paid to re-attach the
    // cell, and the probed-cell filter + per-query ADC fold are
    // map-only literals (adcExplode). Raw vectors still appear
    // NOWHERE in the corpus-scale scan beyond the one encode pass.
    val withCell = assignCells(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      cents).select(col("vec_id"), col("cell").as("ivf_cell"),
        col("embedding"))
    val codes = pqCodesPivoted(
      pqComponents(withCell, carry = Seq("ivf_cell")), book,
      carry = Seq("ivf_cell"))
      .select(col("vec_id"), col("ivf_cell"),
        (col("p0") % PackRadix).as("c0"), (col("p1") % PackRadix).as("c1"),
        (col("p2") % PackRadix).as("c2"), (col("p3") % PackRadix).as("c3"))
    val adc = adcExplode(codes, qIds, dt, q =>
      col("ivf_cell").isInCollection(probedCells.getOrElse(q, Nil)))
    val shortlist = topKPerGroup(adc, col("q_id"), -col("adc"),
        col("vec_id"), Shortlist)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank of the R-deep shortlist: fetch R vectors/query
    // (result-scale, the only place raw corpus vectors appear)
    val rer = shortlist
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      .join(broadcast(queries(s, d)), Seq("q_id"))
      .withColumn("cos",
        VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    topKPerGroup(rer, col("q_id"), col("cos"), col("vec_id"), K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVFADC+R shortlist depth: how many ADC-ranked codes per query
    * get the exact re-rank. */
  private val Shortlist = 64

  /** (vec_id[, carried], ss, i, x): micro-unit components with
    * subspace ids. `carry` rides extra per-vector columns through the
    * explode (r22 — the IVF cell, so the composed index never joins
    * corpus×corpus to re-attach it). */
  private def pqComponents(vecs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = vecs
    .select((Seq(col("vec_id")) ++ carry.map(col) ++
      Seq(posexplode(col("embedding")).as(Seq("p", "v")))): _*)
    .select((Seq(col("vec_id")) ++ carry.map(col) ++ Seq(
      (col("p") / 16).cast("long").as("ss"),
      col("p").cast("long").as("i"),
      round(col("v").cast("double") * 1000000).cast("long").as("x"))): _*)

  /** M-step: integer-mean codebook of an assignment (vec_id, ss, cell). */
  private def pqCodebookOf(assigned: DataFrame,
      comps: DataFrame): DataFrame =
    comps.join(assigned, Seq("vec_id", "ss"))
      .groupBy(col("ss"), col("cell"), col("i"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(col("ss"), col("cell"), col("i"), expr("sx div n").as("c"))

  /** E-step: per (vec, subspace) argmin of integer squared L2 against
    * the broadcast codebook; min(struct) breaks ties to the low cell.
    * (A literal-folded map-only encode — the trained book unrolled
    * into 40 per-candidate expressions — was tried at r21 and
    * REJECTED: Catalyst's analysis/optimization of the resulting
    * expression tree cost ~4-8 s of DRIVER time per consumer, and a
    * compact higher-order variant gave the time back at runtime as
    * interpreted lambdas; this broadcast-join + partial-agg shape
    * stays whole-stage-codegen end to end. See OPTIMIZATION_r21.md.) */
  private def pqAssign(comps: DataFrame, book: DataFrame): DataFrame =
    comps.join(broadcast(book), Seq("ss", "i"))
      .groupBy(col("vec_id"), col("ss"), col("cell"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
      .groupBy(col("vec_id"), col("ss"))
      .agg(min(struct(col("d2"), col("cell"))).as("b"))
      .select(col("vec_id"), col("ss"), col("b.cell").as("cell"),
        col("b.d2").as("d2"))

  /** Corpus encode with the per-vector codes PIVOTED to one row —
    * (vec_id[, carried cols], b0..b3 structs of (d2, cell)) — in a
    * single vec-keyed aggregate (r22): the same (vec, ss, cell)
    * partial-d2 aggregate as [[pqAssign]], then ONE groupBy(vec_id)
    * whose min(when(ss === i, struct(d2, cell))) per subspace equals
    * pqAssign's per-(vec, ss) min exactly (other subspaces' rows are
    * null and min skips nulls; the struct ordering — d2 first, cell
    * second — is the identical low-cell tie-break), so winning cells
    * and distances are bit-identical while the second, (vec, ss)-keyed
    * corpus exchange disappears: downstream ADC consumers get one row
    * per vector with no further corpus-scale shuffle. `carry` rides
    * vec-functionally-dependent columns (the IVF cell) through both
    * aggregates, which removes the corpus×corpus vec_id join the r21
    * shape paid to re-attach them. */
  /** Packing radix for the pivoted encode: each (d2, cell) candidate
    * packs into ONE long as d2 * PackRadix + cell, so the
    * per-subspace argmin is a plain LONG min — hash-aggregatable,
    * where a min over a struct forces a SortAggregate and two full
    * per-partition sorts of the corpus-scale input (measured +60%
    * task time) — with the IDENTICAL (d2 asc, cell asc) tie-break
    * because 0 ≤ cell < PackRadix (pqCodebook enforces it on the
    * collected book; cells are label-seeded and label-dense). d2 is a
    * 16-term sum of squared micro-unit deltas (≤ ~6·10¹³ on
    * unit-scale embeddings), so the ×2¹⁶ shift stays far inside a
    * long — the unpacked sum already relied on the same headroom.
    * Past it (components of magnitude ~1.5 and up) the packed value
    * would wrap and flip the per-subspace winner, so a d2 above
    * [[PackHeadroom]] raises an error instead. */
  private[operators] val PackRadix = 65536L
  private[operators] val PackHeadroom = (Long.MaxValue - PackRadix) / PackRadix

  private[graft] def pqCodesPivoted(comps: DataFrame, book: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    def packed = when(col("d2") > PackHeadroom, raise_error(lit(
      "PQ squared distance exceeds the packed-argmin headroom " +
        s"($PackHeadroom): embedding components too large for the " +
        "micro-unit encode")))
      .otherwise(col("d2") * PackRadix + col("cell"))
    comps.join(broadcast(book), Seq("ss", "i"))
      .groupBy((Seq(col("vec_id")) ++ carry.map(col) ++
        Seq(col("ss"), col("cell"))): _*)
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
      .groupBy((col("vec_id") +: carry.map(col)): _*)
      .agg(
        min(when(col("ss") === 0, packed)).as("p0"),
        min(when(col("ss") === 1, packed)).as("p1"),
        min(when(col("ss") === 2, packed)).as("p2"),
        min(when(col("ss") === 3, packed)).as("p3"))
  }

  /** Per-query ADC distance tables, COLLECTED to the driver: the
    * returned map's (q)(ss) entry is the cell-indexed array of integer
    * squared distances from query q's ss-th subvector to every
    * codebook centroid — NQ·m·k longs of constant model state (the
    * collectedCentroids pattern), computed by the very expression the
    * r21 shape broadcast as a frame, so every entry is bit-identical.
    * Returns (query ids ascending, tables); both are empty when the
    * dataset has no queries. */
  private def adcTables(s: SparkSession, d: String,
      book: DataFrame): (Seq[Long], Map[Long, IndexedSeq[Seq[Long]]]) = {
    val qComps = pqComponents(queries(s, d)
        .select(col("q_id").as("vec_id"), col("q_emb").as("embedding")))
      .select(col("vec_id").as("q_id"), col("ss"), col("i"),
        col("x").as("qx"))
    val rows = qComps.join(broadcast(book), Seq("ss", "i"))
      .groupBy(col("q_id"), col("ss"), col("cell"))
      .agg(sum((col("qx") - col("c")) * (col("qx") - col("c"))).as("dt"))
      .collect() // NQ·m·k rows — constant model state, driver-scale
    if (rows.isEmpty) return (Nil, Map.empty)
    val maxCell = rows.map(_.getLong(2)).max
    if (maxCell >= 65536) throw new IllegalStateException(
      s"PQ cell id $maxCell too sparse for literal ADC tables — the " +
        "label-seeded codebook keeps cell ids label-dense by construction")
    val tables = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> IndexedSeq.tabulate(4) { ss =>
        val arr = Array.fill((maxCell + 1).toInt)(0L)
        rs.filter(_.getLong(1) == ss)
          .foreach(r => arr(r.getLong(2).toInt) = r.getLong(3))
        arr.toSeq
      }
    }
    (tables.keys.toSeq.sorted, tables)
  }

  /** Map-only per-query ADC scoring (r22): one explode of NQ literal
    * structs per corpus row, each struct's adc = dt0[c0] + dt1[c1] +
    * dt2[c2] + dt3[c3] — four element_at lookups into the query's
    * typedLit distance arrays, whole-stage-codegen end to end. This
    * removes the corpus×NQ-row exchange the r21 shape paid between the
    * broadcast-dt join and the (q_id, vec_id) sum aggregate: the only
    * shuffle left downstream is the WindowGroupLimit-pruned top-k.
    * (The r21-rejected literal fold carried the 64-dim encode subtree
    * per candidate and hit the Catalyst plan-size wall; these are
    * k-entry integer arrays, one Literal each — two orders of
    * magnitude smaller, measured fine.) `keep` lets the IVF consumer
    * restrict each query to its probed cells inside the same struct. */
  private def adcExplode(codes: DataFrame, qIds: Seq[Long],
      dt: Map[Long, IndexedSeq[Seq[Long]]],
      keep: Long => Column): DataFrame = {
    def el(q: Long, ss: Int, c: String): Column =
      element_at(typedLit(dt(q)(ss)), (col(c) + 1).cast("int"))
    // one LONG per query (null = excluded), posexploded — a struct
    // per (row, query) was measured allocation-heavy; the query id
    // resolves from the position through one literal array
    val adcs = qIds.map { q =>
      when(keep(q) && col("vec_id") =!= q,
        el(q, 0, "c0") + el(q, 1, "c1") + el(q, 2, "c2") + el(q, 3, "c3"))
    }
    codes.select(col("vec_id"),
        posexplode(array(adcs: _*)).as(Seq("qi", "adc")))
      .filter(col("adc").isNotNull)
      .select(element_at(typedLit(qIds), col("qi") + 1).as("q_id"),
        col("vec_id"), col("adc"))
  }

  /** The trained (ss, cell, i, c) codebook: label-seeded, two integer
    * Lloyd rounds over the deterministic 50% 'pq-' hash sample —
    * exposed for the spec's independent re-encode check.
    *
    * r21: the training component matrix and the trained book are
    * localCheckpointed — the lazy chain referenced sampComps five
    * times and knnPq/knnIvfPq consume the book twice (ADC tables +
    * corpus encode), and exchange reuse never collapsed those
    * subtrees (the r21 plan audit counted 28 parquet scans in
    * sim_knn_pq, 48 in sim_knn_ivfpq — every reference re-ran the
    * posexplode + two Lloyd rounds). Values unchanged. */
  private[graft] def pqCodebook(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val samp = Tables.embeddings(s, d)
      .filter(pmod(graft.functions.RollingHash.rollingHash(
        md5(concat(lit("pq-"), col("vec_id").cast("string"))
          .cast("binary"))), lit(2L)) === 0L)
    val sampComps = pqComponents(samp)
      .localCheckpoint() // sample×dims rows, 4 longs each
    try {
      val seed = samp.select(col("vec_id"),
        col("label").cast("long").as("cell"))
        .crossJoin(samp.sparkSession.range(4).select(col("id").as("ss")))
      val b0 = pqCodebookOf(seed, sampComps)
      val b1 = pqCodebookOf(pqAssign(sampComps, b0)
        .select(col("vec_id"), col("ss"), col("cell")), sampComps)
      // r22: the trained book is COLLECTED constant model state
      // (m·k·16 rows of 4 longs — the collectedCentroids pattern)
      // instead of an r21 localCheckpoint: consumers broadcast it from
      // a local relation with zero jobs and zero block-manager
      // retention after the query returns (the r21 verdict's leak
      // item), and the training sample's checkpoint is RELEASED here,
      // after its last consumer action — at 100 TB the 50% sample no
      // longer stays pinned to executor memory for the session.
      val rows = pqCodebookOf(pqAssign(sampComps, b1)
        .select(col("vec_id"), col("ss"), col("cell")), sampComps)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(x => (x._1, x._2, x._3)).toSeq
      // the packed pivot and the literal ADC tables both index by
      // cell id — enforce the label-dense invariant loudly
      require(rows.forall(r => r._2 >= 0 && r._2 < PackRadix),
        s"PQ cell ids outside [0, $PackRadix) — label-seeded codebooks " +
          "keep cells label-dense by construction")
      rows.toDF("ss", "cell", "i", "c")
    } finally org.apache.spark.sql.graftshim.Shim
      .releaseCheckpoint(sampComps)
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the production
    * search shape that neither list alone gives: a KEYWORD top-10
    * (distinct-token overlap between the query doc and each corpus
    * doc over documents, joined to its embedding twin by the shared
    * id) fused with the VECTOR top-10 (cosine, same ranking as
    * knnBrute) via integer RRF: score = Σ 1e6 div (60 + rank) over
    * the lists containing the candidate (Cormack et al. SIGIR'09
    * constant k=60; integer division so both engines compute the
    * identical score — 1/(60+r) in doubles would hash-differ). Final
    * top-5 per query by (score desc, id). Both legs are the
    * broadcast-queries / stream-corpus shape: the corpus is never
    * shuffled, each leg reduces map-side via WindowGroupLimit, and
    * the fusion join runs on two result-scale (NQ×10-row) sides.
    * Token overlap uses the codegen O(n+m) sorted-merge intersect
    * (functions.SortedIntersectSize), not array_intersect's per-row
    * hash build. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val k2 = 10
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        array_sort(array_distinct(split(trim(col("text")), "\\s+"))).as("toks"))
    val qToks = toks.filter(col("doc_id") < NQ)
      .select(col("doc_id").as("q_id"), col("toks").as("q_toks"))
    val kwScored = toks.crossJoin(broadcast(qToks))
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("overlap", graft.functions.SortedIntersectSize
        .sortedIntersectSize(col("toks"), col("q_toks")))
    val kw = topKPerGroup(kwScored, col("q_id"), col("overlap"),
        col("doc_id"), k2)
      .select(col("q_id"), col("doc_id").as("cand_id"),
        col("rank").as("kw_rank"))
    val vecScored = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries(s, d)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
    val vec = topKPerGroup(vecScored, col("q_id"), col("cos"),
        col("vec_id"), k2)
      .select(col("q_id"), col("vec_id").as("cand_id"),
        col("rank").as("vec_rank"))
    val fused = kw.join(vec, Seq("q_id", "cand_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000 div (60 + kw_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
    topKPerGroup(fused, col("q_id"), col("rrf"), col("cand_id"), K)
      .select(col("q_id"), col("cand_id"), col("rrf").as("rrf_score"),
        col("rank").as("final_rank"))
      .orderBy(col("q_id"), col("final_rank"))
  }
}
