package graft.api

import graft.functions.DotProduct
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Library-facing similarity search over embedding frames
  * (id: long, vector: array<float|double>). Unit-normalized vectors →
  * dot product == cosine. Dots run through the fused codegen
  * [[DotProduct]] expression, except the exact all-pairs tier, whose
  * kernel ([[ExactCosine]]) accumulates bit-identically.
  */
object SimilarityOps {

  private def asDouble(df: DataFrame, idCol: String, vecCol: String) =
    df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("e"))

  /** One `(dot, -centroid_id)` struct per driver-held centroid, over the
    * row's `e` column. `array_max` of this array IS nearest-centroid
    * assignment — a pure whole-stage-codegen projection with ZERO
    * exchanges (struct ordering: max dot, then lowest id). Centroids are
    * k·dim doubles on the driver (the MLlib pattern), so the options
    * inline as literals however large the corpus; `array_sort` of the
    * same array yields multi-probe rankings. This replaces the old
    * crossJoin + row_number window (a full sort + shuffle of n×k rows).
    */
  private def centroidOptions(centroids: Array[(Long, Array[Double])]): org.apache.spark.sql.Column =
    array(centroids.map { case (cid, v) =>
      struct(DotProduct.dot(col("e"), typedLit(v.toSeq)).as("d"),
        lit(-cid).as("nc"))
    }.toIndexedSeq: _*)

  /** Exact global top-k most similar pairs `(id_a, id_b, cos)` with
    * `id_a < id_b`, ordered by `cos` desc (rounded to 6dp), then `id_a`,
    * `id_b`. Quadratic by design: every pair is scored by the exact
    * kernel in [[ExactCosine]]; use [[ivfTopK]] at scale. Runs eagerly
    * and returns a local frame of at most `k` rows.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    ExactCosine.topK(asDouble(emb, idCol, vecCol), k)

  /** All pairs `(id_a, id_b, cos)` with `id_a < id_b` and cosine ≥
    * threshold (rounded to 6dp first so results are engine-stable).
    * Quadratic by design, scored by the exact kernel in [[ExactCosine]];
    * [[lshNearDupPairsAuto]] is the scale path. Runs eagerly and returns
    * a local frame, so the output should be small.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    ExactCosine.atLeast(asDouble(emb, idCol, vecCol), threshold)

  /** [[nearDupPairs]] restricted to intra-md5-group pairs — the linear,
    * deterministic exact-pair SAMPLE the scale-tier invariant reports
    * grade against (the ground-truth side of a report must not itself
    * be quadratic, or the report dies at 100x even when the structure
    * under test is linear). Vectors split into hash-derived groups of
    * ~125 ([[DedupOps.samplePrefixLen]]); only same-group pairs are
    * scored, via a plain equi-shuffle on the group key. Content-hash
    * grouping means any engine replays the identical sample.
    */
  def nearDupPairsSampled(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, prefLen: Int): DataFrame = {
    val e = asDouble(emb, idCol, vecCol)
      .withColumn("grp", substring(md5(col("vec_id").cast("string")), 1, prefLen))
    val a = e.select(col("grp"), col("vec_id").as("id_a"), col("e").as("e_a"))
    val b = e.select(col("grp"), col("vec_id").as("id_b"), col("e").as("e_b"))
    a.join(b, Seq("grp")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(DotProduct.dot(col("e_a"), col("e_b")), 6).as("cos"))
      .filter(col("cos") >= threshold || DedupOps.noPush)
  }

  /** Embedding near-dup pairs via signed-random-projection LSH — the
    * 100 TB scale path behind [[nearDupPairs]] (which stays the exact
    * O(n²) baseline). Compatibility wrapper over
    * [[lshNearDupPairsBanded]]: `nBits` total bits in `bands` bands.
    */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 16, bands: Int = 4): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    lshNearDupPairsBanded(emb, idCol, vecCol, threshold, nBits / bands, bands)
  }

  /** SRP-LSH sized to the corpus: bucket width grows with log(n) so
    * per-bucket occupancy — and therefore the candidate count — stays
    * LINEAR in n, and the band count grows to hold recall at the design
    * point. A fixed geometry (the wrapper above) is quadratic in
    * disguise: with buckets fixed, occupancy ∝ n and candidates ∝ n²/
    * buckets — measured as a SparkContext-killing 50M-pair explosion at
    * 10x sf0.1. Sizing rule (all constants documented, deterministic):
    *  - bandBits = log2(n/32) clamped [4,16] → ~32 vectors per bucket;
    *  - per-bit collision prob at the design similarity s* =
    *    max(threshold, 0.7): p = 1 − acos(s*)/π (Goemans–Williamson);
    *  - bands = enough for ≥0.85 recall at s*: ln(0.15)/ln(1−p^bandBits),
    *    clamped so bands·bandBits ≤ 256 (keeps the sum-aggregate codegen
    *    within JIT limits).
    * Recall at similarities below s* degrades smoothly — the standard
    * LSH amplification trade; candidates stay O(n·bands·occupancy).
    * The corpus count comes from one cheap count() job; at warehouse
    * scale, use the catalog row-count statistic instead.
    */
  def lshNearDupPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = math.max(1L, emb.count())
    val bandBits = math.max(4, math.min(16,
      math.ceil(math.log(n / 32.0) / math.log(2)).toInt))
    val p = 1.0 - math.acos(math.max(threshold, 0.7)) / math.Pi
    val q = math.pow(p, bandBits)
    val bands = math.max(4, math.min(256 / bandBits,
      math.ceil(math.log(0.15) / math.log(1 - q)).toInt))
    lshNearDupPairsBanded(emb, idCol, vecCol, threshold, bandBits, bands)
  }

  /** The SRP-LSH core: `bands` independent bands of `bandBits` sign bits
    * each. Band b, bit i = sign(Σ_d ±v_d) with a deterministic Rademacher
    * ±1 pattern from xxhash64(global bit, d) (Achlioptas-style
    * projections — no stored hyperplanes, every executor derives the same
    * pattern). All band buckets compute in the fused codegen
    * [[graft.functions.SrpBuckets]] — a pure projection, so the signature
    * stage has ZERO exchanges and stays in whole-stage codegen at any
    * bands·bandBits (the per-bit sum-aggregate it replaces fell back to
    * interpreted eval once corpus-sized geometry crossed ~100 aggregate
    * columns: 78× blowup at 10× data). Vectors sharing any band bucket
    * become candidates; `bucketCap` skips degenerate mega-buckets (m docs
    * = m²/2 pairs — the minhash/simhash guard). Candidates are verified
    * with the exact codegen [[DotProduct]] and filtered to `threshold`.
    * Precision is exact; recall is the SRP collision probability
    * (1−θ/π per bit), amplified across bands.
    */
  def lshNearDupPairsBanded(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bandBits: Int, bands: Int,
      bucketCap: Int = 1000): DataFrame = {
    require(bandBits >= 1 && bands >= 1 && bands * bandBits <= 256,
      "need 1 <= bandBits, 1 <= bands, bands*bandBits <= 256")
    // ONE signature pass: both candidate-join sides and both verify
    // attach sides otherwise re-execute the SrpBuckets projection and
    // the source scan per consumer (measured: the 30x sweep's second
    // rep ran 2x SLOWER than the first — recompute, not data, was the
    // cost). One (vec_id, band, bucket) row set and one vector frame,
    // both pinned via localCheckpoint rather than cache(): lineage is
    // truncated at the materialized blocks (every consumer reads one
    // snapshot) and the blocks are reclaimed when the returned plan is
    // GC'd — no session-lifetime cache entry to leak.
    // lazy (r16): `e` materializes inside the nVec count below, the
    // banded frame inside the candidate self-join — the snapshot/
    // lineage-truncation semantics are unchanged, the two dedicated
    // materialization jobs are gone
    val e = asDouble(emb, idCol, vecCol).localCheckpoint(false)
    val banded0 = e
      .select(col("vec_id"),
        graft.functions.SrpBuckets.buckets(col("e"), bandBits, bands).as("bks"))
      .filter(col("bks").isNotNull)
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("band", "bucket")))
    val wB = Window.partitionBy(col("band"), col("bucket"))
    val banded = banded0.withColumn("bucket_n", count(lit(1)).over(wB))
      .filter(col("bucket_n") <= bucketCap)
      .drop("bucket_n")
      .localCheckpoint(false)
    val x = banded.select(col("vec_id").as("id_a"), col("band"), col("bucket"))
    val y = banded.select(col("vec_id").as("id_b"), col("band").as("band_b"),
      col("bucket").as("bucket_b"))
    val candidates = x.join(y, col("band") === col("band_b") &&
        col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // verify attach: with the vector frame BROADCAST both joins are
    // map-side, so the (large) candidate stream never shuffles its fat
    // vector rows — the containmentPairsFiltered discipline. The hint
    // bypasses autoBroadcastJoinThreshold, so it is GATED on an
    // estimated vector-frame size (rows × (8·dim + 48B overhead)):
    // past the budget the same plan runs as shuffle hash joins instead
    // of OOMing the driver (the candidate stream is
    // O(n·bands·occupancy) either way).
    val nVec = e.count()
    val dim = e.select(size(col("e"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val vecBytes = nVec * (8L * dim + 48L)
    val broadcastBudget = 512L << 20
    def side(df: DataFrame): DataFrame =
      if (vecBytes <= broadcastBudget) broadcast(df) else df
    val va = e.select(col("vec_id").as("id_a"), col("e").as("e_a"))
    val vb = e.select(col("vec_id").as("id_b"), col("e").as("e_b"))
    candidates.join(side(va), "id_a").join(side(vb), "id_b")
      .select(col("id_a"), col("id_b"),
        round(DotProduct.dot(col("e_a"), col("e_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF-style approximate nearest neighbors: assign every vector to its
    * nearest seed centroid (`numSeeds` lowest-id vectors), then search
    * top-`k` inside the query vector's bucket only (nprobe=1). Seeds are
    * collected to the driver (numSeeds·dim doubles — tiny) so assignment
    * is a shuffle-free codegen projection, see [[centroidOptions]].
    */
  /** HNSW-like graph ANN (single-layer NSW, the Malkov–Yashunin base
    * layer, built the distributed way):
    *
    *  1. **Candidate edges** from SRP sign-bucket collisions (the
    *     [[graft.functions.SrpBuckets]] projection — deterministic, no
    *     stored hyperplanes, mega-buckets capped), exact-scored with
    *     the codegen [[DotProduct]] and trimmed to each node's top-`m`
    *     — the locality-aware init graph.
    *  2. **One NN-descent round** (Dong et al.): neighbors-of-neighbors
    *     as new candidates, rescored exactly, merged, re-trimmed to
    *     top-`m`. Every step is an equi-join + bounded per-key window;
    *     candidates stay O(n·m²) — no all-pairs scan anywhere.
    *  3. **Greedy beam search** per query: start at a deterministic
    *     entry point (the global min id), expand the current beam's
    *     adjacency, score ONLY unvisited nodes, keep the best `beam`;
    *     `iters` fixed rounds, then top-`k` over everything visited.
    *     Each round is one equi-join on the adjacency — the number of
    *     exact dots per query is ≤ 1 + iters·beam·m, independent of
    *     corpus size: the property that makes graph ANN the sublinear
    *     search tier.
    *
    * Deterministic end to end (SRP patterns are hash-derived, ties
    * break on id), so results are oracle-stable. Recall is graded by
    * the same exact-top-1 + recall-floor invariant report as the other
    * ANN tiers.
    */
  def graphAnnTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int, m: Int = 16,
      beam: Int = 12, iters: Int = 4, bandBits0: Int = 0, bands: Int = 8,
      bucketCap: Int = 256): DataFrame = {
    // r15: one shared checkpoint of the double-cast embedding frame —
    // build and search previously each materialized their own copy of
    // the identical frame (one extra job + duplicate cast pass).
    // r16: both checkpoints are LAZY — `e` materializes inside the
    // adjacency build's bandBits count (its first consumer) and the
    // adjacency inside the first beam expansion, saving two dedicated
    // materialization passes.
    val e = asDouble(emb, idCol, vecCol).localCheckpoint(false)
    graphAnnSearchOnE(e,
      graphAnnAdjacencyOnE(e, m, bandBits0, bands, bucketCap)
        .localCheckpoint(false),
      queryPred, k, beam, iters)
  }

  /** Steps 1-2 of the NSW build (SRP init edges + one NN-descent
    * refinement) exposed separately: a production pipeline stages this
    * adjacency once and amortizes it across query batches — the
    * declared `sim_ann_graph_staged` tier measures exactly that split.
    * Returns (src, dst, cos), each src trimmed to its top-`m`.
    */
  def graphAnnAdjacency(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, bandBits0: Int = 0, bands: Int = 8,
      bucketCap: Int = 256): DataFrame =
    graphAnnAdjacencyOnE(asDouble(emb, idCol, vecCol).localCheckpoint(false),
      m, bandBits0, bands, bucketCap)

  private def graphAnnAdjacencyOnE(e: DataFrame,
      m: Int, bandBits0: Int, bands: Int, bucketCap: Int): DataFrame = {
    // bandBits0 = 0 -> size the init buckets to the corpus like
    // lshNearDupPairsAuto: ~32 vectors per bucket keeps candidate
    // count (and therefore init-edge scoring) LINEAR in n — a fixed
    // geometry's occupancy grows with n, quadratic in disguise
    val bandBits =
      if (bandBits0 > 0) bandBits0
      else math.max(4, math.min(16,
        math.ceil(math.log(math.max(1L, e.count()) / 32.0) / math.log(2)).toInt))

    // exact-score a candidate pair list and keep each src's top-m
    def trim(cand: DataFrame): DataFrame = {
      val va = e.select(col("vec_id").as("src"), col("e").as("e_a"))
      val vb = e.select(col("vec_id").as("dst"), col("e").as("e_b"))
      val wTop = Window.partitionBy(col("src")).orderBy(desc("cos"), col("dst"))
      cand.join(va, "src").join(vb, "dst")
        .select(col("src"), col("dst"),
          round(DotProduct.dot(col("e_a"), col("e_b")), 6).as("cos"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= m)
        .select(col("src"), col("dst"), col("cos"))
    }

    // 1. init edges: SRP bucket mates (both directions), capped
    val banded = e
      .select(col("vec_id"),
        graft.functions.SrpBuckets.buckets(col("e"), bandBits, bands).as("bks"))
      .filter(col("bks").isNotNull)
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("band", "bucket")))
    val wB = Window.partitionBy(col("band"), col("bucket"))
    val capped = banded.withColumn("bn", count(lit(1)).over(wB))
      .filter(col("bn") <= bucketCap).drop("bn")
      // lazy: first consumer is the bucket-mate self-join just below
      .localCheckpoint(false)
    val cand0 = capped.select(col("vec_id").as("src"), col("band"), col("bucket"))
      .join(capped.select(col("vec_id").as("dst"), col("band").as("b2"),
          col("bucket").as("k2")),
        col("band") === col("b2") && col("bucket") === col("k2") &&
          col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    // lazy: first consumer is the NN-descent neighbor join just below
    val adj0 = trim(cand0).localCheckpoint(false)

    // 2. one NN-descent refinement: src->mid->dst candidates, merged
    val non = adj0.select(col("src"), col("dst").as("mid"))
      .join(adj0.select(col("src").as("mid"), col("dst")), "mid")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(adj0.select(col("src"), col("dst")))
      .distinct()
    trim(non)
  }

  /** Step 3 — greedy beam search over a prebuilt adjacency. Entry
    * points: `beam` hash-argmin seeds (node minimizing
    * xxhash64(id, r) per seed slot r) — deterministic, uniformly
    * spread across the corpus, and ONE map-side-combined aggregate to
    * compute. Multiple spread entries stand in for HNSW's upper-layer
    * descent: a single entry's greedy path can stall in a far region
    * of a flat NSW graph (measured: recall 0.48 at 60k nodes
    * single-entry vs 0.8+ multi-entry). Exact dots per query are
    * <= beam + iters·beam·m regardless of corpus size.
    */
  def graphAnnSearch(emb: DataFrame, idCol: String, vecCol: String,
      adj: DataFrame, queryPred: org.apache.spark.sql.Column, k: Int,
      beam: Int = 12, iters: Int = 4): DataFrame =
    graphAnnSearchOnE(asDouble(emb, idCol, vecCol).localCheckpoint(false),
      adj, queryPred, k, beam, iters)

  private def graphAnnSearchOnE(e: DataFrame, adj: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int,
      beam: Int, iters: Int): DataFrame = {
    val q = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"))
    // r16: entry seeds from ONE map-side-combined global aggregate (beam
    // min_by slots in a single row, array_distinct'd) instead of
    // explode(beam)×n rows + groupBy + distinct — two full exchanges and
    // their AQE stage jobs gone; same slot-r argmin, same distinct set.
    val entry = e
      .agg(array_distinct(array((0 until beam).map(r =>
        min_by(col("vec_id"), xxhash64(col("vec_id"), lit(r)))): _*)).as("ns"))
      .select(explode(col("ns")).as("node"))
    // r16: scoring joins with the SCALE-CORRECT build sides pinned — the
    // frontier/query frames are bounded by beam·m·|query batch| rows, so
    // they broadcast and the corpus frame `e` streams map-side with no
    // exchange (previously AQE discovered this per iteration at the cost
    // of a shuffle write + replan + broadcast-rebuild job chain each
    // round: 76 jobs for one search at sf0.1).
    def score(nodes: DataFrame): DataFrame =
      e.select(col("vec_id").as("node"), col("e"))
        .join(broadcast(nodes), "node")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("node"),
          round(DotProduct.dot(col("q_e"), col("e")), 6).as("cos"))
    var visited = score(broadcast(q.select(col("q_id")))
        .crossJoin(entry).select(col("q_id"), col("node")))
      .localCheckpoint(false) // lazy: first consumer is iter 1's frontier
    for (_ <- 1 to iters) {
      val wBeam = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("node"))
      val frontier = visited.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beam)
        .select(col("q_id"), col("node").as("src"))
      // adjacency streams, bounded frontier broadcasts (at 100 TB the
      // adjacency is corpus-sized; the frontier stays beam·|queries|)
      val expanded = adj.join(broadcast(frontier), "src")
        .select(col("q_id"), col("dst").as("node")).distinct()
        .join(broadcast(visited.select(col("q_id"), col("node"))),
          Seq("q_id", "node"), "left_anti")
      visited = visited.unionByName(score(expanded)).localCheckpoint(false)
    }
    val wFinal = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("node"))
    visited.filter(col("node") =!= col("q_id"))
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("node").as("neighbor_id"),
        col("cos"))
  }

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, numSeeds: Int, k: Int): DataFrame = {
    val e = asDouble(emb, idCol, vecCol)
    val seeds: Array[(Long, Array[Double])] =
      e.orderBy(col("vec_id")).limit(numSeeds).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val assigned = e
      .withColumn("best", array_max(centroidOptions(seeds)))
      .select(col("vec_id"), col("e"), (-col("best.nc")).as("bucket"))
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"), col("bucket"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    q.join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(DotProduct.dot(col("q_e"), col("e")), 6))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Matryoshka-style truncated retrieval: keep only the first `dims`
    * coordinates, renormalize, brute-force top-k in the reduced space.
    * The memory/compute trade every embedding service offers (shorter
    * prefixes = cheaper search, lower recall); recall is graded by the
    * same invariant report as the ANN tiers. Truncate+renormalize is a
    * pure codegen projection — the scan shape is identical to full-dim
    * brute force at dims/64 of the dot-product cost.
    */
  def truncatedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, dims: Int, k: Int): DataFrame = {
    val e = asDouble(emb, idCol, vecCol)
    val t = e.select(col("vec_id"), slice(col("e"), 1, dims).as("te"))
    val n = t.withColumn("nrm", sqrt(DotProduct.dot(col("te"), col("te"))))
      .select(col("vec_id"), transform(col("te"), x => x / col("nrm")).as("e"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    broadcast(q).join(n, col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(DotProduct.dot(col("q_e"), col("e")), 6))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Power iteration for the top eigenvector of the corpus's uncentered
    * second-moment matrix M = (1/n)·Σ x·xᵀ — the first PCA/whitening
    * direction of an embedding table. Each iteration is exactly ONE job:
    * scan → per-row scalar d = xᵀv ([[DotProduct]], v inlined as a
    * literal) → dim-sized weighted sum (posexplode + two-level agg) →
    * collect of `dim` doubles. The Rayleigh quotient of the ENTERING
    * iterate rides along in the same scan — every pos group aggregates
    * over all rows' d, so avg(d²) within any one group IS the corpus
    * vᵀMv — and one extra scalar-agg job after the loop scores the
    * final iterate: iters+1 jobs total. The iterate v lives on the
    * driver (dim doubles — control plane, the same trade as
    * [[kmeansCentroids]]); the data plane never materializes M (dim²
    * entries) nor any pairwise frame.
    *
    * Returns (v, rayleighPerIter) — the unit top-eigenvector estimate
    * and the Rayleigh quotient vᵀMv after each iteration (nondecreasing
    * on a PSD matrix; the caller's invariant report folds that in).
    */
  def powerIterationTopEig(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): (Array[Double], Seq[Double]) = {
    val e = asDouble(emb, idCol, vecCol)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def rayleigh(v: Array[Double]): Double =
      e.agg(avg(pow(DotProduct.dot(col("e"), typedLit(v.toSeq)), 2)))
        .head().getDouble(0)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    val rayleighs = scala.collection.mutable.ArrayBuffer[Double]()
    for (it <- 1 to iters) {
      val rows = e
        .select(DotProduct.dot(col("e"), typedLit(v.toSeq)).as("d"),
          posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(sum(col("x") * col("d")).as("s"), avg(pow(col("d"), 2)).as("r"))
        .collect()
      // rides along: vᵀMv of the iterate that ENTERED this scan = the
      // Rayleigh recorded after the previous iteration's update
      if (it >= 2) rayleighs += rows.head.getDouble(2)
      val s = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val mv = Array.tabulate(dim)(i => s.getOrElse(i, 0.0))
      v = normalize(mv)
    }
    // the final iterate never enters another scan — one extra job
    if (iters >= 1) rayleighs += rayleigh(v)
    (v, rayleighs.toSeq)
  }

  /** Maximal Marginal Relevance re-ranking: greedily select `k` of the
    * `nCand` most query-similar vectors, trading relevance against
    * redundancy — score(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s). The
    * retrieval-diversification tail every RAG pipeline hangs behind its
    * ANN index.
    *
    * Scale shape: the candidate fetch is ONE linear scan + global top-k
    * (TakeOrderedAndProject) — at 100 TB you'd swap it for [[ivfTopK]] /
    * LSH and keep the tail unchanged. Everything after the fetch is
    * candidate-sized: the pairwise sim frame is nCand² rows and each
    * greedy step is a join over ≤ nCand rows, so the k−1 iterations add
    * constant-size plan nodes, never another corpus scan. Deterministic:
    * rel and sims are rounded to 6dp before scoring, ties break on
    * vec_id.
    *
    * The query vector is the corpus's lowest-id embedding (a stand-in
    * for a user query arriving at runtime).
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String,
      nCand: Int, k: Int, lambda: Double): DataFrame = {
    val e = asDouble(emb, idCol, vecCol)
    val q = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("q_id"), col("e").as("q_e"))
    // the DISTRIBUTED part is exactly the corpus-sized work: one scan,
    // one broadcast-join relevance projection, one top-nCand. Everything
    // after operates on nCand rows — a user constant independent of
    // corpus size — so the greedy tail is driver-held control plane
    // (the k-means-centroid pattern), NOT a chain of 8-row distributed
    // joins: the old per-step join/broadcast/limit jobs were pure
    // scheduler overhead (~1.9 s at sf0.1 for ~0 bytes of real work;
    // driver greedy runs the identical arithmetic in microseconds).
    val cand: Array[(Any, Array[Double], Double)] =
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("vec_id"), col("e"),
          round(DotProduct.dot(col("e"), col("q_e")), 6).as("rel"))
        .orderBy(desc("rel"), col("vec_id")).limit(nCand)
        .collect()
        .map(r => (r.get(0),
          r.getSeq[Double](1).toArray,
          r.getDouble(2)))
    // identical arithmetic to the previous distributed greedy: dots
    // accumulate in index order (bit-identical to the DotProduct
    // expression) and every rounding is Spark's ROUND (HALF_UP)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // candidate ids sort by their SQL ordering; ids are int/long in
    // practice — compare on the numeric value for the tie-break
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.longValue() < y.longValue()
      case (x, y) => x.toString < y.toString
    }
    val sim = scala.collection.mutable.Map.empty[(Int, Int), Double]
    def pairSim(i: Int, j: Int): Double =
      sim.getOrElseUpdate((math.min(i, j), math.max(i, j)),
        round6(dot(cand(i)._2, cand(j)._2)))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Double)]
    val chosen = scala.collection.mutable.Set.empty[Int]
    for (step <- 1 to math.min(k, cand.length)) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      for (i <- cand.indices if !chosen(i)) {
        val score =
          if (step == 1) cand(i)._3
          else {
            val maxsim = chosen.iterator.map(j => pairSim(i, j)).max
            round6(lambda * cand(i)._3 - (1.0 - lambda) * maxsim)
          }
        if (score > bestScore ||
            (score == bestScore && idLt(cand(i)._1, cand(bestIdx)._1))) {
          bestIdx = i; bestScore = score
        }
      }
      chosen += bestIdx
      selected += ((step, cand(bestIdx)._1, bestScore))
    }
    val spark = emb.sparkSession
    val idField = e.schema("vec_id")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      idField.copy(name = "vec_id"),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = selected.map(t =>
      org.apache.spark.sql.Row(t._1, t._2, t._3))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .orderBy(col("rank"))
  }

  /** Lloyd-iterated k-means centroids over unit embeddings, cosine
    * metric. Centroids are collected to the driver each iteration and
    * re-broadcast — the MLlib pattern: k·dim doubles is tiny however
    * large the corpus, and it keeps the lineage flat (no per-iteration
    * plan growth to checkpoint at 100 TB). Deterministic: init = the k
    * lowest-id vectors; every argmax tiebreaks on cluster id. Empty
    * clusters keep their previous centroid. Returned centroids are
    * re-normalized to unit length so dot == cosine stays true for
    * assignment.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, eps: Double = 1e-9): Array[(Int, Array[Double])] =
    kmeansWithIters(emb, idCol, vecCol, k, iters, eps)._1

  /** [[kmeansCentroids]] plus the number of Lloyd iterations actually
    * executed — the spec hook that proves early-stop fires.
    */
  private[graft] def kmeansWithIters(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, eps: Double = 1e-9): (Array[(Int, Array[Double])], Int) = {
    val spark = emb.sparkSession
    val e = asDouble(emb, idCol, vecCol)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var centroids: Array[(Int, Array[Double])] = e.orderBy(col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => i -> normalize(r.getSeq[Double](1).toArray) }
    var itersRun = 0
    var moved = true
    // early-stop on centroid movement < eps: declared cost is then
    // data-dependent (converged corpora stop after one confirming pass),
    // not a fixed iters driver round-trips. Movement is max over k of the
    // L2 shift — k·dim driver-side doubles, no extra job.
    while (moved && itersRun < iters) {
      // assignment is a shuffle-free projection over the driver-held
      // centroids ([[centroidOptions]]) — each Lloyd iteration is then
      // exactly one job: scan → assign → two-level mean agg → collect
      val assigned = e
        .withColumn("best", array_max(centroidOptions(
          centroids.map { case (cid, v) => (cid.toLong, v) })))
        .select(col("vec_id"), col("e"), (-col("best.nc")).cast("int").as("cluster"))
      val means = assigned
        .select(col("cluster"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos")).agg(avg(col("v")).as("m"))
        .groupBy(col("cluster"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          p => p.getField("m")).as("mean_e"))
        .collect()
        .map(r => r.getInt(0) -> normalize(r.getSeq[Double](1).toArray))
        .toMap
      val next = centroids.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      moved = centroids.zip(next).exists { case ((_, a), (_, b)) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum) >= eps
      }
      centroids = next
      itersRun += 1
    }
    (centroids, itersRun)
  }

  /** k-means IVF ANN with multi-probe: build `nClusters` centroids with
    * [[kmeansCentroids]], assign every vector to its nearest centroid
    * (one shuffle), then search each query's `nprobe` nearest clusters
    * only. nprobe trades recall for candidate-set size: nprobe=1 is the
    * classic IVF fast path, nprobe=nClusters degenerates to brute force.
    * At 100 TB the assignment is written bucketed by cluster so probes
    * are partition-pruned scans.
    */
  def kmeansIvfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int,
      nClusters: Int, iters: Int, nprobe: Int): DataFrame = {
    val centroids = kmeansCentroids(emb, idCol, vecCol, nClusters, iters)
    val e = asDouble(emb, idCol, vecCol)
    val opts = centroidOptions(centroids.map { case (cid, v) => (cid.toLong, v) })
    // full-corpus assignment AND multi-probe ranking are both pure
    // projections over the driver-held centroids: array_max for the
    // argmax, sorted-descending slice + explode for the nprobe nearest
    // clusters. No crossJoin, no window, no exchange until the bucket
    // join itself.
    val assigned = e
      .withColumn("best", array_max(opts))
      .select(col("vec_id"), col("e"), (-col("best.nc")).cast("int").as("cluster"))
    val probes = e.filter(queryPred)
      .withColumn("probe", explode(slice(reverse(array_sort(opts)), 1, nprobe)))
      .select(col("vec_id").as("q_id"), col("e").as("q_e"),
        (-col("probe.nc")).cast("int").as("cluster"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("vec_id"))
    probes.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(DotProduct.dot(col("q_e"), col("e")), 6))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Per-label centroids (dense arrays, broadcast) and nearest-centroid
    * label per vector.
    */
  def knnCentroidLabels(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val ex = emb.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val centroids = ex.groupBy(col("label").as("c_label"), col("pos"))
      .agg(avg(col("v")).as("c_v"))
      .groupBy(col("c_label"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c_v")))),
        p => p.getField("c_v")).as("c_e"))
    val e = asDouble(emb, idCol, vecCol)
    // argmax as a mergeable aggregate, NOT a rank-filter: row_number over
    // partitionBy(vec_id) would shuffle AND SORT the full vecs×labels frame
    // just to keep one row per vector. min_by(label, struct(-dot, label))
    // partial-aggregates map-side to one row per vec_id before the
    // exchange, and for FINITE dots the struct ordering (-dot asc = dot
    // desc, then label asc) reproduces the old desc(dot)/asc(label)
    // tie-break exactly. Caveat: a NaN dot would sort FIRST under
    // desc(dot) (picked) but -NaN sorts last under min (ignored) —
    // unreachable here because centroids are finite averages of finite
    // unit-normalized embeddings, but not an identity to lean on if this
    // aggregate is reused over unvetted vectors.
    e.crossJoin(broadcast(centroids))
      .withColumn("dot", DotProduct.dot(col("e"), col("c_e")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("c_label"),
        struct((-col("dot")).as("nd"), col("c_label"))).as("pred_label"))
  }

  /** SemDeDup-style cluster-blocked near-duplicate pairs: k-means
    * partitions the corpus, and the exact cosine-threshold scan runs
    * only WITHIN each cluster — the pairwise cost drops from n² to
    * Σ|cluster|², the semantic-dedup recipe for embedding-level
    * duplicate pruning at corpus scale. Every reported pair is verified
    * with the exact codegen dot, so the result is a SUBSET of the exact
    * pair set by construction; pairs that straddle a cluster boundary
    * are the (bounded, measured) recall loss.
    */
  def clusterBlockedPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int, iters: Int, probes: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(emb, idCol, vecCol, nClusters, iters)
    val e = asDouble(emb, idCol, vecCol)
    val opts = centroidOptions(centroids.map { case (cid, v) => (cid.toLong, v) })
    // multi-assignment: each vector blocks into its `probes` nearest
    // clusters — a pair is scanned if ANY cluster is shared (distinct
    // below dedups multi-collisions). probes=1 is pure SemDeDup
    // partitioning; probes=2 recovers most boundary-straddling pairs for
    // ~probes² the candidate volume.
    val assigned = e
      .withColumn("probe", explode(slice(reverse(array_sort(opts)), 1, probes)))
      .select(col("vec_id"), col("e"), (-col("probe.nc")).cast("int").as("cluster"))
    assigned.select(col("cluster"), col("vec_id").as("id_a"), col("e").as("e_a"))
      .join(assigned.select(col("cluster"), col("vec_id").as("id_b"), col("e").as("e_b")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(DotProduct.dot(col("e_a"), col("e_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
  }

  /** [[clusterBlockedPairs]] with corpus-sized geometry — the 100 TB
    * SemDeDup shape. A FIXED cluster count is quadratic in disguise:
    * occupancy ∝ n, so the within-cluster pair scan is ∝ n²/k (measured
    * 32x at 30x data with k=8). Here the cluster COUNT grows to hold
    * ~`targetSize` vectors per cluster (k = clamp(⌈n/targetSize⌉, 8,
    * 4096), integer ladder — deterministic), so the pair scan is
    * ~n·targetSize·probes²/2: LINEAR. At the harness scales
    * (n/targetSize ≤ 8) the geometry collapses to exactly
    * clusterBlockedPairs(k=8) — same clusters, same pairs, same oracle.
    *
    * The driver-literal assignment expression ([[centroidOptions]])
    * stops being viable as k grows (one expression holding k·dim
    * literal doubles — codegen size, then JIT limits), so both the
    * Lloyd refinement and the final multi-probe blocking assign via a
    * BROADCAST JOIN against the k-row centroid frame: n·k narrow
    * (id, cid, dot) rows, argmax as a mergeable min_by aggregate (the
    * knnCentroidLabels discipline) and top-`probes` as a rank filter
    * (rewritten to the bounded-heap TopKPerKey under the engine
    * extensions — no per-key sort). Same dots, same tie-breaks (equal
    * dot → smaller cid), so the k ≤ 8 results are bit-identical to the
    * literal path.
    */
  def clusterBlockedPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, iters: Int, probes: Int = 2,
      targetSize: Int = 250): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = math.max(1L, emb.count())
    val k = math.max(8, math.min(4096L, (n + targetSize - 1) / targetSize)).toInt
    val e = asDouble(emb, idCol, vecCol).cache()
    def normalize(v: Array[Double]): Array[Double] = {
      val nm = math.sqrt(v.map(x => x * x).sum)
      if (nm == 0.0) v else v.map(_ / nm)
    }
    // deterministic init: the k lowest-id vectors, unit-normalized —
    // identical to kmeansCentroids
    var centroids: Array[(Int, Array[Double])] = e.orderBy(col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => i -> normalize(r.getSeq[Double](1).toArray) }
    def centroidFrame(): DataFrame =
      centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "c_e")
    // top-`p` clusters per vector by (dot desc, cid asc — the literal
    // path's tie-break). The n·k scored stream carries ONLY
    // (vec_id, cid, dot): the 512-byte vector column must not ride
    // through the widest intermediate of the whole operator (measured
    // 2.4x on the 30x sweep from this projection alone) — vectors
    // re-attach by key to the probes-bounded result. The rank filter
    // plans as the two-phase bounded heap under the engine extensions.
    def assignTop(p: Int): DataFrame = {
      val scored = e.crossJoin(broadcast(centroidFrame()))
        .select(col("vec_id"), col("cid"),
          DotProduct.dot(col("e"), col("c_e")).as("dot"))
      val wP = Window.partitionBy(col("vec_id")).orderBy(desc("dot"), col("cid"))
      scored.withColumn("rn", row_number().over(wP))
        .filter(col("rn") <= p)
        .select(col("vec_id"), col("cid").as("cluster"))
    }
    for (_ <- 0 until iters) {
      // one Lloyd pass: argmax assignment, then the same two-level mean
      // aggregate and driver-side renormalize as kmeansCentroids
      val means = assignTop(1).join(e, "vec_id")
        .select(col("cluster"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos")).agg(avg(col("v")).as("m"))
        .groupBy(col("cluster"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          p => p.getField("m")).as("mean_e"))
        .collect()
        .map(r => r.getInt(0) -> normalize(r.getSeq[Double](1).toArray))
        .toMap
      centroids = centroids.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    val assigned = assignTop(probes).join(e, "vec_id")
      .select(col("vec_id"), col("e"), col("cluster"))
    assigned.select(col("cluster"), col("vec_id").as("id_a"), col("e").as("e_a"))
      .join(assigned.select(col("cluster"), col("vec_id").as("id_b"), col("e").as("e_b")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(DotProduct.dot(col("e_a"), col("e_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
  }

  /** Product-quantization ANN via Asymmetric Distance Computation: the
    * vector is split into `m` subspaces of dim/m, each subspace gets a
    * `ksub`-centroid codebook (Lloyd, batched across ALL subspaces in
    * one job per iteration — not m driver loops), and every vector
    * compresses to `m` small codes. A query never touches raw corpus
    * vectors: it builds an m×ksub lookup table of partial dots against
    * the codebooks (q·|codebook| work), and each corpus vector scores as
    * the sum of m table entries addressed by its codes.
    *
    * Scale: the corpus side stores m bytes/vector instead of dim floats
    * (16× compression at 64-dim/16-sub), the codebooks are
    * m·ksub·(dim/m) driver-held doubles broadcast as a tiny frame, and
    * scoring is one linear scan of the code table — the memory-bound PQ
    * scan from the FAISS/Jégou PQ paper, expressed as broadcast-join +
    * two-level aggregate. Deterministic: seeds are the ksub lowest-id
    * vectors' subvectors, argmax tiebreaks on -cid, centroid components
    * round to 9dp per iteration (no cross-run ulp drift).
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = asDouble(emb, idCol, vecCol)
    val dim = e.select(size(col("e"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val ds = dim / m
    val subs = e.select(col("vec_id"), posexplode(
        expr(s"transform(sequence(0, ${m - 1}), j -> slice(e, j*$ds + 1, $ds))"))
      .as(Seq("sj", "sv")))
    def round9(v: Array[Double]) = v.map(x => math.rint(x * 1e9) / 1e9)
    // init: subvectors of the ksub lowest-id vectors, per subspace
    var codebook: Seq[(Int, Int, Seq[Double])] = {
      val seeds = e.orderBy(col("vec_id")).limit(ksub).collect()
        .map(_.getSeq[Double](1).toArray)
      for (sj <- 0 until m; cid <- seeds.indices.toSeq)
        yield (sj, cid, round9(seeds(cid).slice(sj * ds, sj * ds + ds)).toSeq)
    }
    def cbDf = broadcast(codebook.toDF("sj", "cid", "cv"))
    // one job per Lloyd iteration covering all m subproblems at once.
    // Assignment minimizes L2 (the PQ objective — ADC's dot error is
    // bounded by the quantization L2): argmin ‖sv−cv‖² = argmax of
    // (2·dot − ‖cv‖²) since ‖sv‖² is constant within the row's group.
    def assign() = subs.join(cbDf, "sj")
      .withColumn("d", lit(2.0) * DotProduct.dot(col("sv"), col("cv"))
        - DotProduct.dot(col("cv"), col("cv")))
      .groupBy(col("vec_id"), col("sj"))
      .agg(max_by(col("cid"), struct(col("d"), -col("cid"))).as("cid"),
        first(col("sv")).as("sv"))
    var it = 0
    while (it < iters) {
      val means = assign()
        .select(col("sj"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sj"), col("cid"), col("pos")).agg(avg(col("v")).as("mv"))
        .groupBy(col("sj"), col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("mv")))),
          p => p.getField("mv")).as("mean_sv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> round9(r.getSeq[Double](2).toArray).toSeq)
        .toMap
      codebook = codebook.map { case (sj, cid, old) =>
        (sj, cid, means.getOrElse((sj, cid), old)) }
      it += 1
    }
    val codes = assign().select(col("vec_id"), col("sj"), col("cid"))
    // ADC: per-query lookup table of partial dots, 9dp per term so the
    // m-term sums are order-stable
    val ltab = subs.filter(queryPred).join(cbDf, "sj")
      .select(col("vec_id").as("q_id"), col("sj"), col("cid"),
        round(DotProduct.dot(col("sv"), col("cv")), 9).as("pdot"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(desc("approx"), col("vec_id"))
    codes.join(broadcast(ltab), Seq("sj", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("pdot")), 6).as("approx"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("vec_id").as("neighbor_id"),
        col("approx"))
  }
}
