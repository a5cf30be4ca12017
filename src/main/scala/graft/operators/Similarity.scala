package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine top-k is the correctness baseline;
  * sign-LSH bucketing is the scale path (candidates restricted to the query's
  * bucket — the broadcast × scan stays, but the pair space shrinks by ~2^planes).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. The query side is
    * broadcast (it must be small — that is the contract of "k-NN for these
    * queries"); candidates stream through the scan once; per-query ranking is
    * one shuffle on query id. Ties broken by neighbor id for determinism.
    */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))

    val scored = cand.join(broadcast(qs), col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Brute-force top-k via the bounded [[graft.functions.TopKAggregator]]:
    * identical results to [[bruteForceTopK]], but the per-query ranking runs
    * as a partial (map-side) aggregation — each input partition ships at
    * most k candidates per query into the shuffle, instead of every scored
    * row crossing the wire for the window sort. The form to use at 100 TB.
    */
  def bruteForceTopKAgg(candidates: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import candidates.sparkSession.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))

    val scored = cand.join(broadcast(qs), col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))
      .select(col("query_id"), col("sim"), col("nbr_id"))
      .as[(Long, Double, Long)]

    val topk = new TopKAggregator(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues { case (_, sim, id) => Scored(sim, id) }
      .agg(topk.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("nbr_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** IVF-style approximate top-k: a deterministic coarse quantizer (every
    * `centroidStride`-th vector acts as a centroid — swap for trained k-means
    * centroids in production), each candidate assigned to its nearest
    * centroid (inverted list), each query probing its `nprobe` nearest
    * lists. At scale: centroids broadcast, the candidate table is
    * hash-partitioned by `cent_id` once and reused across query batches, and
    * each query touches ~nprobe/K of the corpus.
    */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      centroidStride: Long = 97L, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val cents = candidates
      .filter(col(idCol) % centroidStride === 0)
      .select(col(idCol).as("cent_id"), VectorFns.toDouble(col(vecCol)).as("cent_vec"))
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))

    def nearestCentroids(df: DataFrame, vec: String, norm: String, id: String,
        n: Int): DataFrame = {
      val scored = df.join(broadcast(cents))
        .withColumn("cent_sim", VectorFns.cosinePre(
          VectorFns.dot(col(vec), col("cent_vec")), col(norm), col("cent_norm")))
      val w = Window.partitionBy(col(id))
        .orderBy(col("cent_sim").desc, col("cent_id").asc)
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .drop("cent_vec", "cent_norm", "cent_sim", "crank")
    }

    val assigned = nearestCentroids(cand, "nbr_vec", "nbr_norm", "nbr_id", 1)
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
    val probes = nearestCentroids(qs, "q_vec", "q_norm", "query_id", nprobe)

    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer. Init =
    * the stride-selected vectors (the previous quantizer), then `iters`
    * assignment/mean rounds under the cosine metric. Every arithmetic step
    * is bit-reproducible across engines so a SQL oracle can replay the
    * whole training: per-dimension means are computed as
    * CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) — the
    * decimal sum is EXACT and therefore summation-order-independent (a
    * plain double mean would depend on partitioning and could never
    * hash-match). An iteration is one bound-pruned assignment pass
    * ([[assignPruned]] — the d36 codegen argmax, bit-identical to the
    * broadcast-join row_number formulation) + one narrow aggregate over
    * (cluster, dim) — at 100 TB each round is a single pass, and `iters`
    * is a small constant. Clusters that lose every point keep their
    * previous centroid.
    *
    * TRAINING SAMPLE (standard FAISS practice — `train` on a sample,
    * `add` everything): Lloyd sees min(N, sampleFactor·K) vectors, the
    * members chosen by the engine's deterministic id-hash
    * ([[Sketches.numHash]] < a threshold derived from N and K — the
    * Sampling-family membership rule, so the sample is reproducible
    * across runs, engines, and repartitioning; the SQL oracles replay
    * the same predicate). The stride-init rows are always included, so
    * init is unchanged. Training cost then tracks K, not the corpus:
    * web-scale K = 10⁵ trains on c·K vectors instead of N (SCALE.md,
    * "sampled quantizer training at web-scale K", has K = 10⁴), and the
    * per-iteration driver traffic stays the K×dim means either way.
    * `sampleFactor <= 0` disables sampling (train on everything).
    *
    * Returns (cent_id, vector) sorted by cent_id — tiny (K×dim), collected
    * to the driver and folded into literals exactly like v2's planes.
    */
  def trainIvfCentroids(candidates: DataFrame, initStride: Long, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleFactor: Int = 32): Seq[(Long, Seq[Double])] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
    var cents: Seq[(Long, Seq[Double])] = candidates
      .filter(col(idCol) % initStride === 0)
      .select(col(idCol), VectorFns.toDouble(col(vecCol)))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // loud, not empty: a stride that misses every candidate id (easy to
    // hit when the training frame is itself id-filtered) would otherwise
    // produce an empty quantizer and, downstream, an index with no lists
    require(cents.nonEmpty,
      s"initStride=$initStride selected no initial centroids from the " +
        "training frame - pick a stride that intersects its id set")

    val train = {
      val k = cents.size.toLong
      val n = if (sampleFactor <= 0) 0L else cand.count()
      if (sampleFactor <= 0 || n <= sampleFactor * k) cand
      else {
        // threshold arithmetic mirrors the oracle SQL exactly:
        // FLOOR(M * factor.0 * k / n) with left-associated double ops
        val t = (graft.functions.SimHashTokenHash.M
          * sampleFactor.toDouble * k.toDouble / n.toDouble).toLong
        cand.filter(Sketches.numHash(col("nbr_id")) < lit(t)
          || col("nbr_id") % initStride === 0)
      }
    }.persist()
    try {
      for (_ <- 0 until iters) {
        val assigned = assignPruned(train, cents, "nbr_id", "nbr_vec")
          .select(col("cent_id"), col("v").as("nbr_vec"))
        val means = assigned
          .select(col("cent_id"), posexplode(col("nbr_vec")).as(Seq("d", "x")))
          .groupBy(col("cent_id"), col("d"))
          .agg((sum(col("x").cast("decimal(27,18)")).cast("double") /
            count(lit(1))).as("m"))
          .as[(Long, Int, Double)].collect()
        val byCent = means.groupBy(_._1).map { case (cid, rows) =>
          cid -> rows.sortBy(_._2).map(_._3).toSeq
        }
        // a cluster that captured no points keeps its previous centroid
        cents = cents.map { case (cid, prev) => (cid, byCent.getOrElse(cid, prev)) }
      }
      cents
    } finally train.unpersist(blocking = false)
  }

  /** IVF top-k against an EXPLICIT centroid set (the trained-quantizer
    * form of [[ivfTopK]]): centroids arrive as driver-side literals — the
    * output of [[trainIvfCentroids]] — so the query plan embeds them as a
    * broadcast literal relation, identical in shape to the stride form.
    */
  def ivfTopKWithCentroids(candidates: DataFrame, queries: DataFrame, k: Int,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val cents = centroids.toDF("cent_id", "cent_vec")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))

    def nearestCentroids(df: DataFrame, vec: String, norm: String, id: String,
        n: Int): DataFrame = {
      val scored = df.join(broadcast(cents))
        .withColumn("cent_sim", VectorFns.cosinePre(
          VectorFns.dot(col(vec), col("cent_vec")), col(norm), col("cent_norm")))
      val w = Window.partitionBy(col(id))
        .orderBy(col("cent_sim").desc, col("cent_id").asc)
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .drop("cent_vec", "cent_norm", "cent_sim", "crank")
    }

    val assigned = nearestCentroids(cand, "nbr_vec", "nbr_norm", "nbr_id", 1)
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
    val probes = nearestCentroids(qs, "q_vec", "q_norm", "query_id", nprobe)

    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Multi-probe sign-LSH top-k: each query probes every bucket within
    * Hamming distance `probeHamming` of its own bucket (the standard
    * multi-probe trick — recall of distant-but-true neighbors without
    * adding hash tables), then candidates are EXACTLY re-ranked by cosine.
    * Probed fraction ≈ Σ C(numPlanes, 0..probeHamming) / 2^numPlanes; at
    * scale raise numPlanes and probeHamming together to keep the fraction
    * small while holding recall. Because ranking within the probed set is
    * exact, whenever the true top-k fall inside the probed buckets the
    * output EQUALS the brute-force result — which is what the driver's v2
    * oracle (the exact-k-NN SQL) checks on the test corpus.
    */
  def lshTopKMultiProbe(candidates: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 6, dim: Int = 64, probeHamming: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = VectorFns.hyperplanes(numPlanes, dim)
    val masks = (0 until (1 << numPlanes))
      .filter(m => Integer.bitCount(m) <= probeHamming)
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("bucket", VectorFns.lshBucket(col("nbr_vec"), planes))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_bucket", VectorFns.lshBucket(col("q_vec"), planes))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
      // one row per probed bucket; a candidate lives in exactly one bucket,
      // so each (query, candidate) pair arises at most once — no dedup
      .withColumn("bucket",
        explode(array(masks.map(m => col("q_bucket").bitwiseXOR(lit(m.toLong))): _*)))

    val scored = cand.join(broadcast(qs), Seq("bucket"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** LSH-bucketed embedding near-dup pairs — the 100 TB replacement for the
    * exact all-pairs cosine join (O(N²)): vectors pair only when their
    * sign-LSH buckets differ in ≤ `probeHamming` bits (the left side emits
    * one bucket row, the right side its probe fan-out, so each qualifying
    * pair joins exactly once), then the cosine is verified EXACTLY.
    * Pair space shrinks ~2^numPlanes; tune numPlanes with corpus size and
    * probeHamming for recall. The semantics (bucketing included) are pure
    * arithmetic over fixed hyperplanes — the driver oracle replays them in
    * SQL, so this approximate operator is hash-match checked, not
    * rows-only.
    */
  def lshNearDupPairs(candidates: DataFrame, threshold: Double,
      numPlanes: Int = 6, dim: Int = 64, probeHamming: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = VectorFns.hyperplanes(numPlanes, dim)
    val masks = (0 until (1 << numPlanes))
      .filter(m => Integer.bitCount(m) <= probeHamming)
    // fan out before the per-row plane projections + norms: a small
    // embedding corpus is one scan split, so the vector arithmetic (and
    // the bucket join fed by it) otherwise runs on one core
    // (Parallelism.fanOutScan is a no-op once the scan has real splits)
    val base = Parallelism.fanOutScan(candidates.select(
        col(idCol).as("id"), VectorFns.toDouble(col(vecCol)).as("v")), col("id"))
      .withColumn("bucket", VectorFns.lshBucket(col("v"), planes))
      .withColumn("nrm", VectorFns.norm(col("v")))
    val l = base.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("bucket"))
    val r = base.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m.toLong))): _*))
        .as("bucket"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** LSH-bucketed approximate top-k: both sides hashed into sign-LSH buckets
    * from the same deterministic hyperplanes; candidates considered only
    * within the query's bucket. Recall < 1 by construction; raise recall by
    * probing neighboring buckets ([[lshTopKMultiProbe]] — the driver-checked
    * form).
    */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = VectorFns.hyperplanes(numPlanes, dim)
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("bucket", VectorFns.lshBucket(col("nbr_vec"), planes))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("bucket", VectorFns.lshBucket(col("q_vec"), planes))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))

    val scored = cand.join(broadcast(qs), Seq("bucket"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Scalar-quantized (SQ8) approximate top-k — the memory-compression
    * scale path: each corpus vector is encoded to one byte per dimension
    * against a per-dimension [min, max] codebook (4× smaller than float32,
    * 8× smaller than the double form; at 100 TB the encoded corpus is what
    * stays resident). Stage 1 ranks by cosine against the RECONSTRUCTED
    * vectors and keeps `k × rerankFactor` per query; stage 2 reranks the
    * shortlist exactly on the originals. Every step is deterministic
    * double arithmetic — codebook = exact column min/max, code =
    * floor(x + 0.5) (identical semantics in Spark and DuckDB, unlike
    * round()'s HALF_UP vs banker's ambiguity) — so the DuckDB oracle
    * replays the full approximate semantics bit-for-bit, v2-style.
    */
  /** Deterministic SQ8 codebook: exact per-dimension min/max via ONE
    * posexplode + 2-aggregate groupBy (dim groups; map-side combine
    * shrinks each partition to dim rows before the shuffle). The
    * unrolled alternative — 2×dim named aggregates in a single plan —
    * generated codegen past JIT limits and cost ~10 s at dim=64.
    * Guards shape first: a null vector or a dim mismatch would
    * otherwise NULL its dot products and silently rank those rows by
    * id alone (count() ignores nothing; min/max alone skip nulls).
    */
  private def sq8Codebook(cand: DataFrame, dim: Int)
      : (Array[Double], Array[Double]) = {
    val guard = cand.agg(
      count(lit(1)).as("n"),
      count(when(col("nbr_vec").isNull ||
        size(col("nbr_vec")) =!= dim, 1)).as("bad")).head()
    require(guard.getLong(0) > 0, "sq8: empty candidate set")
    require(guard.getLong(1) == 0,
      s"sq8 dim=$dim but ${guard.getLong(1)} of ${guard.getLong(0)} " +
        "embeddings are null or a different length")
    val mmRows = cand
      .select(posexplode(col("nbr_vec")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    mmRows.foreach { r =>
      val d = r.getInt(0); mn(d) = r.getDouble(1); mx(d) = r.getDouble(2)
    }
    (mn, mx)
  }

  /** encode→reconstruct composed: mn + floor((x-mn)/span*255+0.5)/255*span
    * — one small transform() lambda against literal-folded codebook arrays
    * (floor instead of round: HALF_UP vs banker's would diverge between
    * engines).
    */
  private def sq8Recon(mn: Array[Double], mx: Array[Double])
      : org.apache.spark.sql.Column = {
    val mnLit = array(mn.map(lit): _*)
    val spanLit = array(mn.indices.map(d => lit(mx(d) - mn(d))): _*)
    transform(col("nbr_vec"), (x, i) => {
      val m = element_at(mnLit, i + 1)
      val sp = element_at(spanLit, i + 1)
      val code = least(greatest(
        floor((x - m) / sp * lit(255.0) + lit(0.5)),
        lit(0.0)), lit(255.0))
      when(sp === lit(0.0), m)
        .otherwise(m + code / lit(255.0) * sp)
    })
  }

  def sq8TopK(candidates: DataFrame, queries: DataFrame, k: Int,
      rerankFactor: Int = 4, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
    val (mn, mx) = sq8Codebook(cand, dim)
    val encoded = cand.withColumn("approx_vec", sq8Recon(mn, mx))
      .withColumn("approx_norm", VectorFns.norm(col("approx_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))

    val approx = encoded.join(broadcast(qs), col("nbr_id") =!= col("query_id"))
      .withColumn("asim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("approx_vec")),
        col("q_norm"), col("approx_norm")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("asim").desc, col("nbr_id").asc)
    val shortlist = approx.withColumn("arank", row_number().over(w1))
      .filter(col("arank") <= k * rerankFactor)

    val exact = shortlist.withColumn("sim", VectorFns.cosinePre(
      VectorFns.dot(col("q_vec"), col("nbr_vec")),
      col("q_norm"), VectorFns.norm(col("nbr_vec"))))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Deterministic per-subspace L2 Lloyd — PQ codebook training (Jégou et
    * al. 2011, "Product Quantization for Nearest Neighbor Search"): the
    * vector splits into `m` contiguous subspaces of `subDim` dims, and
    * each subspace gets its own small codebook trained independently. A
    * vector then compresses to m codes (m bytes at ksub ≤ 256) instead of
    * dim floats — the memory ratio that makes billion-vector serving fit
    * in RAM. Training follows [[trainIvfCentroids]]'s determinism rules
    * (exact decimal means, empty clusters keep their centroid) but ranks
    * by L2 distance — PQ quantizes residual geometry, where cosine's
    * norm-invariance would collapse distinct magnitudes into one code.
    * The full expression `x·x − 2·x·c + c·c` is used on both engines so
    * IEEE results agree bit-for-bit. Init = the first `ksub`
    * stride-selected slices — ksub is a CONSTANT, independent of corpus
    * size (the IVF 100×-probe lesson: a K that grows with N makes
    * training quadratic), so codebook size, code width, and per-round
    * cost are fixed no matter how many vectors stream through.
    *
    * Returns (subspace, cent_id, centroid) — m × ksub × subDim doubles,
    * driver-sized by construction.
    */
  def trainPqCodebooks(candidates: DataFrame, m: Int, subDim: Int,
      initStride: Long, ksub: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Long, Seq[Double])] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    (0 until m).flatMap { s =>
      val sub = candidates.select(col(idCol).as("nbr_id"),
        slice(VectorFns.toDouble(col(vecCol)), s * subDim + 1, subDim).as("sub"))
      var cents: Seq[(Long, Seq[Double])] = sub
        .filter(col("nbr_id") % initStride === 0 &&
          col("nbr_id") < initStride * ksub)
        .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
      for (_ <- 0 until iters) {
        val centDf = broadcast(cents.toDF("cent_id", "cv"))
        val w = Window.partitionBy(col("nbr_id"))
          .orderBy(col("dist").asc, col("cent_id").asc)
        val assigned = sub.join(centDf)
          .withColumn("dist",
            VectorFns.dot(col("sub"), col("sub"))
              - lit(2.0) * VectorFns.dot(col("sub"), col("cv"))
              + VectorFns.dot(col("cv"), col("cv")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cent_id"), col("sub"))
        val means = assigned
          .select(col("cent_id"), posexplode(col("sub")).as(Seq("d", "x")))
          .groupBy(col("cent_id"), col("d"))
          .agg((sum(col("x").cast("decimal(27,18)")).cast("double") /
            count(lit(1))).as("m"))
          .as[(Long, Int, Double)].collect()
        val byCent = means.groupBy(_._1).map { case (cid, rows) =>
          cid -> rows.sortBy(_._2).map(_._3).toSeq
        }
        cents = cents.map { case (cid, prev) => (cid, byCent.getOrElse(cid, prev)) }
      }
      cents.map { case (cid, v) => (s, cid, v) }
    }
  }

  /** PQ top-k: encode every candidate as its m nearest sub-centroids, score
    * queries against the RECONSTRUCTED (concatenated-centroid) vectors,
    * shortlist k×rerankFactor, then rerank the shortlist exactly — the v5
    * SQ8 serving shape with codebook quantization in place of per-dim
    * scalar. Scoring reconstructions value-wise is ADC: the production
    * serving path precomputes per-query × per-subspace lookup tables so a
    * candidate costs m table reads instead of dim multiplies — same
    * numbers, different constant factor; the distributed shape (broadcast
    * queries × one candidate scan, one ranking shuffle) is what this
    * encodes. Encoding is per-row fan-out to m subspace rows, one
    * broadcast codebook join, one groupBy(vec) to reassemble — no
    * corpus-squared anything.
    */
  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      codebooks: Seq[(Int, Long, Seq[Double])], m: Int, subDim: Int,
      rerankFactor: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
    val subs = cand.select(col("nbr_id"), posexplode(
      array((0 until m).map(s =>
        slice(col("nbr_vec"), s * subDim + 1, subDim)): _*)).as(Seq("s", "sub")))
    val cb = broadcast(codebooks.toDF("s", "cent_id", "cv"))
    val w0 = Window.partitionBy(col("nbr_id"), col("s"))
      .orderBy(col("dist").asc, col("cent_id").asc)
    val coded = subs.join(cb, Seq("s"))
      .withColumn("dist",
        VectorFns.dot(col("sub"), col("sub"))
          - lit(2.0) * VectorFns.dot(col("sub"), col("cv"))
          + VectorFns.dot(col("cv"), col("cv")))
      .withColumn("rn", row_number().over(w0))
      .filter(col("rn") === 1)
      .select(col("nbr_id"), col("s"), col("cv"))
    val encoded = coded.groupBy(col("nbr_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("cv")))),
        x => x("cv"))).as("approx_vec"))
      .withColumn("approx_norm", VectorFns.norm(col("approx_vec")))
      .join(cand, Seq("nbr_id"))

    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
    val approx = encoded.join(broadcast(qs), col("nbr_id") =!= col("query_id"))
      .withColumn("asim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("approx_vec")),
        col("q_norm"), col("approx_norm")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("asim").desc, col("nbr_id").asc)
    val shortlist = approx.withColumn("arank", row_number().over(w1))
      .filter(col("arank") <= k * rerankFactor)

    val exact = shortlist.withColumn("sim", VectorFns.cosinePre(
      VectorFns.dot(col("q_vec"), col("nbr_vec")),
      col("q_norm"), VectorFns.norm(col("nbr_vec"))))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Persist an IVF index — the build-once/query-many production shape:
    * `<name>_centroids` (tiny, K×dim) plus `<name>_lists`, the candidate
    * corpus with its nearest-centroid assignment written PARTITIONED BY
    * `cent_id` — each inverted list is a physical partition directory, so
    * a query probing nprobe lists reads ~nprobe/K of the corpus through
    * ordinary partition pruning (visible as PartitionFilters in the scan).
    * At 100 TB the index is built once per corpus version and amortized
    * across every query batch; parquet round-trips doubles exactly, so
    * querying the persisted index returns bit-identical results to the
    * in-memory form.
    */
  /** Argmax-cosine centroid assignment — the shared arithmetic of index
    * build AND incremental append (per-vector, no global state, so
    * assigning a union equals assigning its parts: append == rebuild).
    */
  private def assignToCentroids(candidates: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      idCol: String, vecCol: String): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val cents = centroids.toDF("cent_id", "cent_vec")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))
    val w = Window.partitionBy(col("nbr_id"))
      .orderBy(col("cent_sim").desc, col("cent_id").asc)
    cand.join(broadcast(cents))
      .withColumn("cent_sim", VectorFns.cosinePre(
        VectorFns.dot(col("nbr_vec"), col("cent_vec")),
        col("nbr_norm"), col("cent_norm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("nbr_id"), col("nbr_vec"), col("nbr_norm"), col("cent_id"))
  }

  def buildIvfIndex(candidates: DataFrame, centroids: Seq[(Long, Seq[Double])],
      writer: graft.sources.TableWriter, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val assigned = assignToCentroids(candidates, centroids, idCol, vecCol)
    writer.materialize(s"${name}_lists", assigned, partitionBy = Seq("cent_id"))
    writer.materialize(s"${name}_centroids",
      centroids.toDF("cent_id", "cent_vec"))
  }

  /** EXACTLY-ONCE batch append into a persisted IVF index — the one
    * append path of the family (v12, v19, q104, the streamed ingest of
    * q108), the ANN side of the crawl pattern: a batch is assigned
    * against the EXISTING quantizer (read back from the index, so the
    * caller needs no training state) and moved into the
    * cent_id-partitioned lists; nothing already indexed is re-read or
    * re-written. The quantizer is intentionally frozen: re-training
    * would move list boundaries and require a full re-encode (a
    * REBUILD, not an append); recall drift under distribution shift is
    * the documented trade-off, exactly as in FAISS's `add`-after-`train`
    * contract. Re-adding a still-tombstoned id is REFUSED: its old rows
    * are still physical (struck only at serve time), so clearing the
    * tombstone would serve both generations and keeping it would strike
    * the fresh rows too — an UPDATE is [[deleteFromIvfIndexBatch]]
    * (which vacuums) then this leg. A writer fence, per-batch commit
    * markers, and deterministic `b<id>-…` list-file naming behind a
    * staged-file manifest make crash replays byte-identical and
    * redeliveries no-ops. The FIRST batch BOOTSTRAPS the index —
    * quantizer trained on that batch (stride-97 init, the v3 Lloyd
    * discipline) and the lists built from it — so a streamed ingest
    * needs no out-of-band build; bootstrap is Overwrite all the way
    * down and therefore redo-idempotent. Later batches land under their
    * own batch names. No derived tables exist in this family
    * (centroids are written once at bootstrap), so there is no
    * dirty-flag leg.
    *
    * Bootstrap is detected by COMMIT HISTORY — no `batch_*` marker has
    * ever been written — not by centroids existence: a crash after the
    * bootstrap's build completed but before its marker leaves centroids
    * present, and centroid-based detection would send the redelivered
    * first batch down the append branch, renaming its vectors in AGAIN
    * next to the bootstrap's files — permanent duplicate list rows.
    * Under history-based detection every pre-marker crash replays the
    * (idempotent, Overwrite-everything) bootstrap. The corollary: this
    * family OWNS its index from birth; to append into an index built by
    * [[buildIvfIndex]], declare the adoption first with
    * [[adoptIvfIndexForStreaming]] — otherwise the first batch would
    * re-bootstrap over the prebuilt lists.
    */
  def appendIvfIndexBatch(batch: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      trainIters: Int = 3, initStride: Long = 97L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      writerId: String = "default"): Unit = {
    val c = IndexFamily.Ivf.commits(batch.sparkSession, writer, name)
    IndexProtocol.runLeg(c, IndexProtocol.Append, batchId, writerId,
        s"appendIvfIndexBatch($name)", Seq(c.staged(batchId))) {
      applyIvfBatch(batch, writer, c, name, batchId, trainIters, initStride,
        idCol, vecCol)
    }
  }

  /** The body of [[appendIvfIndexBatch]]: bootstrap or frozen-quantizer
    * append; false when the batch is a no-op on an unborn index.
    */
  private def applyIvfBatch(batch: DataFrame,
      writer: graft.sources.TableWriter, c: IndexProtocol.Commits,
      name: String, batchId: Long, trainIters: Int, initStride: Long,
      idCol: String, vecCol: String): Boolean = {
    val spark = batch.sparkSession
    val everCommitted = c.everCommitted
    // an empty batch on an unborn index (a delete-only first feed
    // batch routed through the append leg): nothing to train on —
    // commit the marker and wait for a batch with vectors
    if (!everCommitted && batch.isEmpty) return false
    if (!everCommitted) {
      val cents = trainIvfCentroids(batch, initStride, trainIters,
        idCol, vecCol)
      buildIvfIndex(batch, cents, writer, name, idCol, vecCol)
    } else {
      // the re-add guard (see the leg's doc): a still-tombstoned id must
      // be vacuumed before it may re-enter (two-generations hazard);
      // one join against the delta-sized tombstone table
      val tombPath = new org.apache.hadoop.fs.Path(
        writer.path(s"${name}_tombstones"))
      if (c.fs.exists(tombPath)) {
        val clash = writer.read(spark, s"${name}_tombstones")
          .join(batch.select(col(idCol).as("nbr_id")).distinct(),
            Seq("nbr_id"), "left_semi")
          .limit(1).collect()
        require(clash.isEmpty,
          s"appendIvfIndexBatch: batch re-adds tombstoned id ${clash.headOption
            .map(_.get(0)).getOrElse("")} — run vacuumIvfIndex first")
      }
      // redo a crashed attempt's moves from its own staged-file manifest
      // (O(batch): no list directory is listed)
      IndexProtocol.redoFromManifest(c.fs, c.staged(batchId))
      stageIvfBatch(batch, writer, c, name, batchId, idCol, vecCol)
    }
    true
  }

  /** The IVF staging step: the batch assigned against the frozen
    * quantizer and moved into the lists behind the staged manifest.
    */
  private def stageIvfBatch(batch: DataFrame,
      writer: graft.sources.TableWriter, c: IndexProtocol.Commits,
      name: String, batchId: Long, idCol: String, vecCol: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centroids = writer.read(spark, s"${name}_centroids")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    IndexProtocol.stageBatch(c, batchId,
      assignToCentroids(batch, centroids, idCol, vecCol), "cent_id",
      new org.apache.hadoop.fs.Path(writer.path(s"__stage_ib${batchId}_$name")),
      new org.apache.hadoop.fs.Path(writer.path(s"${name}_lists")))
  }

  /** [[Retrieval.injectCrashedBm25Append]] for the IVF family: the append
    * leg's own staging step ([[stageIvfBatch]]) and no commit marker —
    * on this family (frozen quantizer, no derived tables past bootstrap)
    * that IS every pre-marker crash state of a non-bootstrap append.
    * Fixture for q114 and SnapshotReadSpec; nothing in the write path
    * calls it.
    */
  private[graft] def injectCrashedIvfAppend(batch: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    stageIvfBatch(batch, writer,
      IndexFamily.Ivf.commits(batch.sparkSession, writer, name), name,
      batchId, idCol, vecCol)

  /** EXACTLY-ONCE batch delete (+vacuum) from the IVF index — the
    * delete leg of the vector CDC sync ([[syncIvfIndexFromFeed]]).
    * Unlike the BM25 leg there is no decrement arithmetic to
    * write-ahead: the tombstone append is replay-convergent (the
    * fresh-tombstone filter drops already-tombstoned ids, so a crashed
    * attempt's remainder lands on redelivery) and the pruned vacuum is
    * replay-convergent (already-vacuumed victims are simply absent), so
    * the leg is [[IndexProtocol.flaggedDeleteLeg]]: the writer fence,
    * the reader fence and the `del_<id>` marker. The vacuum runs INSIDE
    * the leg so the following append leg may re-add updated ids —
    * [[appendIvfIndexBatch]]'s re-add guard demands the old generation
    * be physically gone first. An unborn index (a delete-only leg
    * before the first append) commits without striking.
    */
  def deleteFromIvfIndexBatch(victims: DataFrame,
      writer: graft.sources.TableWriter, name: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      writerId: String = "default"): Unit = {
    val spark = victims.sparkSession
    IndexProtocol.flaggedDeleteLeg(IndexFamily.Ivf.commits(spark, writer, name),
      batchId, writerId, s"deleteFromIvfIndexBatch($name)",
      new org.apache.hadoop.fs.Path(writer.path(s"${name}_centroids"))) {
      deleteFromIvfIndex(victims, writer, name, idCol, vecCol)
      vacuumIvfIndex(spark, writer, name)
    }
  }

  /** Drive the IVF index from a table's CDC change feed
    * ([[IndexProtocol.syncFromFeed]]): per feed batch in batch_id order,
    * pre-images (update_pre, delete) are tombstoned and vacuumed via
    * [[deleteFromIvfIndexBatch]], then post-images (insert, update_post)
    * appended via [[appendIvfIndexBatch]] — the first batch bootstraps
    * the quantizer from its own vectors, later batches assign frozen (an
    * UPDATE is therefore delete → vacuum → frozen re-assign, exactly the
    * v19 re-embedding flow). Each leg is exactly-once under its marker;
    * re-runs fast-path, crashes resume in order (q111's oracle replays
    * bootstrap training + final-state assignment in SQL).
    */
  def syncIvfIndexFromFeed(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, tableName: String,
      indexName: String, trainIters: Int = 3, initStride: Long = 97L,
      keyCol: String = "vec_id", vecCol: String = "embedding",
      writerId: String = "default"): Unit =
    IndexProtocol.syncFromFeed(spark, writer, tableName,
      IndexProtocol.ChangeLegs(
        deleteFromIvfIndexBatch(_, writer, indexName, _, keyCol, vecCol,
          writerId),
        appendIvfIndexBatch(_, writer, indexName, _, trainIters, initStride,
          keyCol, vecCol, writerId)),
      Seq(keyCol, vecCol))

  /** Hand a [[buildIvfIndex]]-built index to [[appendIvfIndexBatch]],
    * the family's one append path — for any later append, streamed or
    * not (v12, v19 and q104 build, adopt, then append). Writes the
    * `adopted` sentinel into the commits dir so the leg's history-based
    * bootstrap detection treats the prebuilt lists as committed state
    * instead of re-bootstrapping over them. Call ONCE, after the build
    * and before the first append.
    */
  def adoptIvfIndexForStreaming(spark: org.apache.spark.sql.SparkSession,
      writer: graft.sources.TableWriter, name: String): Unit = {
    val c = IndexFamily.Ivf.commits(spark, writer, name)
    require(c.fs.exists(new org.apache.hadoop.fs.Path(
        writer.path(s"${name}_centroids"))),
      s"adoptIvfIndexForStreaming: no prebuilt index at ${writer.path(name)}")
    c.fs.mkdirs(c.dir)
    c.fs.create(c.adopted, true).close()
  }

  /** Targeted delete from a persisted IVF index — the missing quarter of
    * the index lifecycle (build / append / DELETE / vacuum, FAISS's
    * `remove_ids` on a disk index): each victim's owning list is found
    * by PROBING THE INDEX ITSELF, and the delete is recorded as a
    * tombstone row (nbr_id, cent_id) appended to `{name}_tombstones`.
    * Nothing in the lists is touched — a delete costs one tiny append,
    * and [[queryIvfIndex]] strikes tombstoned ids from the probed lists
    * at serve time (an anti-join against a broadcast-sized table).
    * [[vacuumIvfIndex]] later folds tombstones into the lists physically.
    *
    * The tombstoned cent_id comes FROM THE INDEX, not from re-assigning
    * the caller-supplied vector: if the passed vector drifted from what
    * was indexed (a re-embedded corpus row, the v19 flow run with the
    * updated vector), assignment would name the wrong list and a later
    * vacuum would rewrite the wrong partition while the real rows
    * silently survived. The frozen-quantizer assignment is still used —
    * but only to PRUNE the probe to the lists the victims should be in;
    * victims not found there fall back to a column-pruned (nbr_id,
    * cent_id) scan of the whole lists table, so a drifted victim is
    * still struck in its true list. Victims absent from the index (and
    * re-deletes of already-tombstoned ids) write NOTHING — without this
    * presence guard a delete-then-insert upsert would strand a tombstone
    * that makes [[appendIvfIndexBatch]] refuse a legitimate first-time
    * insert. Common-case cost: one partition-pruned probe plus a
    * two-column full-lists scan only when some victim id is not where
    * assignment predicts (absent or drifted).
    */
  def deleteFromIvfIndex(victims: DataFrame,
      writer: graft.sources.TableWriter, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = victims.sparkSession
    import spark.implicits._
    val centroids = writer.read(spark, s"${name}_centroids")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val assigned = assignToCentroids(victims, centroids, idCol, vecCol)
      .select(col("nbr_id"), col("cent_id"))
    // bounded collect: ≤ K list ids — the victims' predicted lists
    val guessed = assigned.select("cent_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val listsPath = writer.path(s"${name}_lists")
    val vicIds = victims.select(col(idCol).as("nbr_id")).distinct()
    val slim = readListsLongCentId(spark, listsPath)
      .select(col("nbr_id"), col("cent_id"))
    val foundPruned = slim
      .filter(col("cent_id").isin(guessed.toIndexedSeq: _*))
      .join(broadcast(vicIds), Seq("nbr_id"), "left_semi")
    // drift fallback: ids not where assignment predicts get the
    // column-pruned full probe; ids still absent are a silent no-op
    val leftover = vicIds
      .join(foundPruned.select("nbr_id"), Seq("nbr_id"), "left_anti")
    val found =
      if (leftover.isEmpty) foundPruned
      else foundPruned.unionByName(
        slim.filter(!col("cent_id").isin(guessed.toIndexedSeq: _*))
          .join(broadcast(leftover), Seq("nbr_id"), "left_semi"))
    // re-deletes are byte-level no-ops: already-tombstoned ids drop out
    val tombPath = new org.apache.hadoop.fs.Path(
      writer.path(s"${name}_tombstones"))
    val tfs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    val fresh =
      if (!tfs.exists(tombPath)) found
      else found.join(
        broadcast(writer.read(spark, s"${name}_tombstones")
          .select(col("nbr_id"))),
        Seq("nbr_id"), "left_anti")
    // sever lineage through the tombstone path the append writes to, and
    // make the presence guard a single materialization (delta-sized)
    val rows = fresh.collect()
    if (rows.nonEmpty)
      writer.materialize(s"${name}_tombstones",
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), fresh.schema).coalesce(1),
        mode = org.apache.spark.sql.SaveMode.Append)
  }

  /** Fold accumulated tombstones into the lists physically: ONLY the
    * list partitions named by tombstone cent_ids are read, anti-joined,
    * and dynamic-partition-overwritten (a list whose every entry is
    * doomed is deleted outright — dynamic overwrite cannot write an
    * empty partition), then the tombstone table is dropped. Cost tracks
    * tombstoned-list volume, not index size; untouched lists are never
    * read or rewritten (spec-asserted byte-stable). Serving is correct
    * before, during (strike), and after (physical) the vacuum —
    * IvfDeleteSpec pins strike == vacuum bit-equality.
    *
    * Before the tombstone table is dropped, the vacuum VERIFIES the
    * tombstoned ids are actually gone (a column-pruned nbr_id scan of
    * the lists, semi-joined with the tombstones): a tombstone whose
    * recorded cent_id did not name the victim's true list (a legacy or
    * hand-written tombstone — [[deleteFromIvfIndex]] now derives
    * cent_id from the index, so its own tombstones can't miss) would
    * otherwise have its rows silently serve again the moment the
    * tombstone table — and with it the serve-time strike — disappears.
    * A failed check throws with the tombstones left in place: serving
    * stays correct (the strike still hides the rows) and the vacuum can
    * be retried after the bad tombstones are repaired.
    */
  def vacuumIvfIndex(spark: SparkSession,
      writer: graft.sources.TableWriter, name: String): Unit = {
    val tombPath = new org.apache.hadoop.fs.Path(writer.path(s"${name}_tombstones"))
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tombPath)) return
    val tombs = writer.read(spark, s"${name}_tombstones")
    // bounded collect: ≤ K list ids (K = centroid count)
    val affected = tombs.select("cent_id").distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.nonEmpty) {
      val listsPath = writer.path(s"${name}_lists")
      val root = new org.apache.hadoop.fs.Path(listsPath)
      graft.sources.TableWriter.recoverSwap(fs, root, "cent_id=")
      val lists = readListsLongCentId(spark, listsPath)
        .filter(col("cent_id").isin(affected.toIndexedSeq: _*))
      val survivors = lists
        .join(tombs.select(col("nbr_id")), Seq("nbr_id"), "left_anti")
      // stage-then-swap (TableWriter.swapStagedDirs): survivors written
      // ONCE, partitioned, instead of flat-stage + read-back + dynamic
      // overwrite (twice the bytes plus an extra read and collect job)
      val stage = writer.path(s"__stage_vacuum_$name")
      val stageP = new org.apache.hadoop.fs.Path(stage)
      val surviving: Set[Long] = try {
        survivors.repartition(col("cent_id"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("cent_id")
          .parquet(stage)
        graft.sources.TableWriter
          .swapStagedDirs(fs, stageP, root, "cent_id=")
          .map(_.toLong).toSet
      } finally {
        fs.delete(stageP, true)
      }
      affected.filterNot(surviving).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"cent_id=$c"), true)
      }
      // post-rewrite verification (see Scaladoc): any tombstoned id still
      // physically present means a tombstone named the wrong list — keep
      // the tombstones (the serve-time strike) and fail loudly. Skipped
      // when NO list survived (nothing left to serve from).
      val anyListLeft = fs.exists(root) && fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("cent_id="))
      if (anyListLeft) {
      val stillThere = spark.read.parquet(listsPath).select(col("nbr_id"))
        .join(broadcast(writer.read(spark, s"${name}_tombstones")
          .select(col("nbr_id")).distinct()), Seq("nbr_id"), "left_semi")
        .limit(1).collect()
      require(stillThere.isEmpty,
        s"vacuumIvfIndex($name): tombstoned id ${stillThere.headOption
          .map(_.get(0)).getOrElse("")} survived the pruned rewrite — a " +
          "tombstone names the wrong cent_id; tombstones kept (serving " +
          "stays struck), repair them and re-run")
      }
    }
    fs.delete(tombPath, true)
  }

  /** Read the lists table with `cent_id` re-typed LONG (directory-name
    * inference types partition columns INT; the probe/join side is LONG,
    * and a cast around the partition column silently kills pruning —
    * pinned by DedupSimilaritySpec).
    */
  private def readListsLongCentId(spark: SparkSession,
      listsPath: String): DataFrame = {
    val inferred = spark.read.parquet(listsPath).schema
    val longCentId = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "cent_id")
        f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    spark.read.schema(longCentId).parquet(listsPath)
  }

  /** Query a persisted IVF index: centroids are re-read (tiny) to assign
    * each query its nprobe nearest lists, the probed `cent_id`s become a
    * partition-pruning IN filter on the lists table, and only those
    * partitions are scanned, scored, and ranked — identical arithmetic
    * and tie-breaking to [[ivfTopKWithCentroids]], so the persisted and
    * in-memory forms hash-match. Tombstones left by
    * [[deleteFromIvfIndex]] are struck from the probed lists before
    * scoring (deleted ids never serve, vacuumed or not).
    */
  def queryIvfIndex(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String, queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    // snapshot-resolved serving (the IVF third of the family — see
    // Retrieval.bm25ServingView for the full rules): a streamed index
    // whose commits dir shows NO committed batch and no adoption is
    // unborn — a crashed bootstrap may have left half-written centroids/
    // lists, and the committed state is an empty index, so serve that
    val ivfCommits = IndexFamily.Ivf.commits(spark, writer, name)
    val streamed = ivfCommits.fs.exists(ivfCommits.dir)
    val adopted = streamed && ivfCommits.fs.exists(ivfCommits.adopted)
    val state0 = ivfCommits.state
    if (streamed && !adopted && state0.committedAppends.isEmpty
        && state0.frontierBatch == Long.MinValue)
      return Seq.empty[(Long, Long, Int)].toDF("query_id", "nbr_id", "rank")
    val cents = writer.read(spark, s"${name}_centroids")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim").desc, col("cent_id").asc)
    val probes = qs.join(broadcast(cents))
      .withColumn("cent_sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("cent_vec")), col("q_norm"), col("cent_norm")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .drop("cent_vec", "cent_norm", "cent_sim", "crank")
    // bounded collect: ≤ |queries| × nprobe list ids → partition pruning
    val probedLists = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val listsPath = writer.path(s"${name}_lists")
    // pin the lists scan against a stable commits state; exclude files of
    // staged-but-unmarked batches (b<id>- names) AFTER the cent_id prune
    // so partition pruning still pushes down; refuse during delete legs
    val (listsBase, listsState, _) = IndexProtocol.pinnedSnapshot(ivfCommits.fs,
      ivfCommits.dir, () => Nil,
      () => readListsLongCentId(spark, listsPath),
      s"queryIvfIndex($name)")
    val pruned = IndexProtocol.excludeUncommitted(
      listsBase.filter(col("cent_id").isin(probedLists: _*)),
      listsState.uncommittedAppends)
    // tombstone strike: deleted-but-not-yet-vacuumed ids are removed from
    // the pruned lists before scoring. The tombstone table is delta-sized
    // (broadcast anti-join); after a vacuum it no longer exists and the
    // strike disappears with it — both states serve identical results.
    val tombPath = new org.apache.hadoop.fs.Path(writer.path(s"${name}_tombstones"))
    val tfs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    val lists0 =
      if (tfs.exists(tombPath))
        pruned.join(
          broadcast(writer.read(spark, s"${name}_tombstones")
            .select(col("nbr_id"))),
          Seq("nbr_id"), "left_anti")
      else pruned
    // metadata-filtered ANN (the "similar docs WHERE lang='en'" serving
    // form): the predicate lands as a semi-join on the PRUNED lists, so
    // filtering narrows the candidate set after partition pruning —
    // never widens the read. Post-filter semantics: candidates are
    // dropped after probing, so a highly selective filter can return
    // fewer than k (the FAISS/IDSelector contract); raise nprobe when
    // the filter is sparse.
    val lists = allowed match {
      case Some(ids) =>
        lists0.join(ids.select(col(ids.columns.head).as("nbr_id")),
          Seq("nbr_id"), "left_semi")
      case None => lists0
    }
    val scored = lists.join(broadcast(probes), Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), col("nbr_norm")))
    // distributed per-query top-k (the lexical serving fix applied to the
    // ANN family): a `row_number over partitionBy(query_id)` here sorts
    // one query's ENTIRE probed-list candidate mass (~nprobe·N/K rows at
    // scale) in a single task; the bounded heap ships ≤k per partition
    rankTopKD(scored, k, col("sim"), "nbr_id")
      .select("query_id", "nbr_id", "rank")
  }

  /** Distributed per-query top-k over DOUBLE scores — the ANN serving
    * twin of Retrieval's lexical rankTopK: bounded-heap
    * [[graft.functions.TopKRankAggregatorD]] with map-side partials
    * (≤k rows per partition per query), emitted list position + 1 ==
    * the row_number of `orderBy(score desc, <id> asc)` bit-exactly
    * (the aggregator's comparator replicates Spark's DoubleType sort
    * order). Output: (query_id, <outId>, rank).
    */
  private def rankTopKD(cand: DataFrame, k: Int,
      score: org.apache.spark.sql.Column, outId: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKRankAggregatorD(k),
      org.apache.spark.sql.Encoders.product[graft.functions.RankedDocD])
    cand
      .groupBy("query_id")
      .agg(topk(score.cast("double"), col(outId).cast("long")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.docId").as(outId),
        (col("pos") + 1).as("rank"))
  }

  /** Composed IVF+SQ8 — the production ANN form: IVF pruning (each query
    * scans only its `nprobe` nearest inverted lists) AND SQ8 compression
    * (the scanned lists hold byte-encoded vectors; at 100 TB the encoded,
    * list-partitioned corpus is what stays resident — ~nprobe/K of the
    * data read per query batch, at a quarter of float32 footprint). The
    * approximate stage ranks probed candidates by cosine against the
    * SQ8-reconstructed vectors and keeps k×rerankFactor per query; the
    * exact stage reranks that shortlist on the original vectors —
    * misquantization can demote a true neighbor out of the shortlist but
    * never corrupts the final ordering of what survives. Centroids arrive
    * as trained literals ([[trainIvfCentroids]]) and the codebook is the
    * same exact min/max + floor(x+0.5) arithmetic as [[sq8TopK]], so the
    * full composition — training, list assignment, probing, quantized
    * shortlist, exact rerank — is deterministic and replayable by a SQL
    * oracle.
    */
  def ivfSq8TopK(candidates: DataFrame, queries: DataFrame, k: Int,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int = 2,
      rerankFactor: Int = 4, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
    val (mn, mx) = sq8Codebook(cand, dim)
    val encoded = cand.withColumn("approx_vec", sq8Recon(mn, mx))
      .withColumn("approx_norm", VectorFns.norm(col("approx_vec")))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))

    val cents = centroids.toDF("cent_id", "cent_vec")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))
    def nearestCentroids(df: DataFrame, vec: String, norm: String, id: String,
        n: Int): DataFrame = {
      val scored = df.join(broadcast(cents))
        .withColumn("cent_sim", VectorFns.cosinePre(
          VectorFns.dot(col(vec), col("cent_vec")), col(norm), col("cent_norm")))
      val w = Window.partitionBy(col(id))
        .orderBy(col("cent_sim").desc, col("cent_id").asc)
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .drop("cent_vec", "cent_norm", "cent_sim", "crank")
    }

    // inverted lists: nearest centroid per ENCODED candidate (assignment
    // runs on the original vector — list membership must not depend on
    // quantization error)
    val assigned = nearestCentroids(encoded, "nbr_vec", "nbr_norm", "nbr_id", 1)
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
    val probes = nearestCentroids(qs, "q_vec", "q_norm", "query_id", nprobe)

    val approx = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("asim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("approx_vec")),
        col("q_norm"), col("approx_norm")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("asim").desc, col("nbr_id").asc)
    val shortlist = approx.withColumn("arank", row_number().over(w1))
      .filter(col("arank") <= k * rerankFactor)

    val exact = shortlist.withColumn("sim", VectorFns.cosinePre(
      VectorFns.dot(col("q_vec"), col("nbr_vec")),
      col("q_norm"), col("nbr_norm")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** Persist the full IVF+PQ serving index — the 100 TB ANN composition:
    * [[buildIvfIndex]]'s partition-pruned inverted-list layout, but each
    * list row stores the vector's m PQ CODES (+ the norm of its
    * reconstruction) instead of the raw doubles — m longs per vector in
    * place of dim floats, the compression that keeps a billion-vector
    * index resident. Three tables:
    *   - `{name}_centroids` (cent_id, cent_vec) — K×dim, tiny;
    *   - `{name}_codebooks` (s, code, cv) — m×ksub×subDim, tiny;
    *   - `{name}_lists` (nbr_id, codes, approx_norm) PARTITIONED BY
    *     cent_id — each inverted list a physical partition directory.
    * List assignment runs on the ORIGINAL vector (membership must not
    * depend on quantization error, same rule as [[ivfSq8TopK]]);
    * approx_norm is the norm of the code reconstruction, precomputed
    * once at build so query-time scoring needs no per-candidate sqrt
    * re-derivation. Encoding is per-row fan-out to m subspace rows, one
    * broadcast codebook join, one groupBy(vec) reassembly — O(N·m·ksub)
    * work, nothing corpus-squared, and ksub/m are constants in corpus
    * size (codebook bytes and per-vector cost fixed no matter how many
    * vectors stream through — the v8 100×-probe property, now persisted).
    */
  def buildIvfPqIndex(candidates: DataFrame, centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[(Int, Long, Seq[Double])], m: Int, subDim: Int,
      writer: graft.sources.TableWriter, name: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
      .withColumn("nbr_norm", VectorFns.norm(col("nbr_vec")))
    val cents = centroids.toDF("cent_id", "cent_vec")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))
    val w = Window.partitionBy(col("nbr_id"))
      .orderBy(col("cent_sim").desc, col("cent_id").asc)
    val assigned = cand.join(broadcast(cents))
      .withColumn("cent_sim", VectorFns.cosinePre(
        VectorFns.dot(col("nbr_vec"), col("cent_vec")),
        col("nbr_norm"), col("cent_norm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("nbr_id"), col("nbr_vec"), col("cent_id"))
    // PQ-encode: per-subspace L2 argmin against the broadcast codebooks
    val subs = assigned.select(col("nbr_id"), col("cent_id"), posexplode(
      array((0 until m).map(s =>
        slice(col("nbr_vec"), s * subDim + 1, subDim)): _*)).as(Seq("s", "sub")))
    val cb = broadcast(codebooks.toDF("s", "code", "cv"))
    val w0 = Window.partitionBy(col("nbr_id"), col("s"))
      .orderBy(col("dist").asc, col("code").asc)
    val coded = subs.join(cb, Seq("s"))
      .withColumn("dist",
        VectorFns.dot(col("sub"), col("sub"))
          - lit(2.0) * VectorFns.dot(col("sub"), col("cv"))
          + VectorFns.dot(col("cv"), col("cv")))
      .withColumn("rn", row_number().over(w0))
      .filter(col("rn") === 1)
      .select(col("nbr_id"), col("cent_id"), col("s"), col("code"), col("cv"))
    val lists = coded.groupBy(col("nbr_id"), col("cent_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("s"), col("code")))),
          x => x("code")).as("codes"),
        VectorFns.norm(flatten(transform(
          array_sort(collect_list(struct(col("s"), col("cv")))),
          x => x("cv")))).as("approx_norm"))
    writer.materialize(s"${name}_lists", lists, partitionBy = Seq("cent_id"))
    writer.materialize(s"${name}_codebooks", codebooks.toDF("s", "code", "cv"))
    writer.materialize(s"${name}_centroids", cents.select("cent_id", "cent_vec"))
  }

  /** Query the persisted IVF+PQ index: probes assign each query its
    * nprobe nearest lists from the (re-read, tiny) centroid table; the
    * probed `cent_id`s partition-prune the lists scan, so only
    * ~nprobe/K of the CODES — already ~dim·4/m× smaller than the raw
    * corpus — are read. Each surviving candidate's reconstruction is
    * assembled ONCE (per candidate, not per query) by a broadcast
    * codebook join, and queries score against it — value-equal to ADC
    * (the per-query×subspace lookup-table serving trick is the same
    * arithmetic regrouped; what this encodes is the distributed shape:
    * one pruned scan, broadcast small sides, one ranking shuffle). The
    * k×rerankFactor shortlist then reranks EXACTLY against the original
    * vectors fetched from `corpus` by key — a broadcast semi-join of a
    * k×rerankFactor×|queries|-row shortlist against the corpus table,
    * the only touch of full-precision data on the whole path.
    */
  def queryIvfPqIndex(spark: SparkSession, writer: graft.sources.TableWriter,
      name: String, corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = writer.read(spark, s"${name}_centroids")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec")))
    val qs = queries.select(
      col(idCol).as("query_id"), VectorFns.toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", VectorFns.norm(col("q_vec")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim").desc, col("cent_id").asc)
    val probes = qs.join(broadcast(cents))
      .withColumn("cent_sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("cent_vec")), col("q_norm"), col("cent_norm")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .drop("cent_vec", "cent_norm", "cent_sim", "crank")
    // bounded collect: ≤ |queries| × nprobe list ids → partition pruning
    val probedLists = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).sorted
    // LONG-typed partition column re-read — the cast-free pruning rule
    // queryIvfIndex established (pinned by DedupSimilaritySpec)
    val listsPath = writer.path(s"${name}_lists")
    val inferred = spark.read.parquet(listsPath).schema
    val longCentId = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "cent_id")
        f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    val lists = spark.read.schema(longCentId).parquet(listsPath)
      .filter(col("cent_id").isin(probedLists: _*))
    // reconstruct each pruned candidate once from its codes
    val cb = broadcast(writer.read(spark, s"${name}_codebooks"))
    val subs = lists.select(col("nbr_id"), col("cent_id"), col("approx_norm"),
      posexplode(col("codes")).as(Seq("s", "code")))
    val recon = subs.join(cb, Seq("s", "code"))
      .groupBy(col("nbr_id"), col("cent_id"), col("approx_norm"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("cv")))),
        x => x("cv"))).as("approx_vec"))
    val approx = recon.join(broadcast(probes), Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("asim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("approx_vec")),
        col("q_norm"), col("approx_norm")))
    // quantized shortlist through the bounded heap — the probed-list
    // candidate mass never sorts in one task (see queryIvfIndex); the
    // query vector re-attaches by a broadcast join on the (bounded)
    // query workload
    val shortlist = rankTopKD(approx, k * rerankFactor, col("asim"), "nbr_id")
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"), col("q_vec"), col("q_norm"))
    // exact rerank: the shortlist (small) broadcasts against the corpus
    val orig = corpus.select(
      col(idCol).as("nbr_id"), VectorFns.toDouble(col(vecCol)).as("nbr_vec"))
    val exact = orig.join(broadcast(shortlist), Seq("nbr_id"))
      .withColumn("sim", VectorFns.cosinePre(
        VectorFns.dot(col("q_vec"), col("nbr_vec")),
        col("q_norm"), VectorFns.norm(col("nbr_vec"))))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication through the cluster structure of the embedding space.
    * Every vector is assigned to its nearest trained centroid (same
    * deterministic argmax-cosine rule as the IVF family), and pair
    * comparison happens ONLY within a cluster — the k-means partition is
    * what keeps the pair space out of O(N²). A vector is dropped when any
    * LOWER-id member of its cluster is within `minCosine` of it — a
    * deterministic, order-independent keep rule (the paper keeps one
    * exemplar per semantic-duplicate group; lowest id is the exemplar
    * choice here, matching the dedup family's convention).
    *
    * Scale shape: one broadcast join against the centroid literals + one
    * equi-shuffle on `cent_id`; within-cluster pair count is Σ|c|², the
    * quantity the paper controls by growing K with the corpus (clusters of
    * ~constant size; train on a fixed-size sample so training stays O(1)
    * in the corpus). Output: (vec_id, cent_id, kept) for every input row.
    */
  def semDedup(emb: DataFrame, centroids: Seq[(Long, Seq[Double])],
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semDedupPairs(assignExact(emb, centroids, idCol, vecCol),
      minCosine, idCol)

  /** Exact argmax-cosine assignment: broadcast join against all K
    * centroids, codegen'd dots, map-side-combined [[argmaxAssign]] —
    * zero heavy shuffles, O(N·K) dot work (SCALE.md, "IVF-assisted
    * SemDeDup assignment", times it against [[assignPruned]]).
    */
  private def assignExact(emb: DataFrame,
      centroids: Seq[(Long, Seq[Double])], idCol: String,
      vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cand = emb.select(col(idCol).as("vid"),
        VectorFns.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
    val cents = broadcast(centroids.toDF("cent_id", "cent_vec")
      .withColumn("cent_norm", VectorFns.norm(col("cent_vec"))))
    val scored = cand.join(cents)
      .withColumn("cent_sim", VectorFns.cosinePre(
        VectorFns.dot(col("v"), col("cent_vec")), col("nrm"), col("cent_norm")))
    argmaxAssign(scored)
  }

  /** Argmax over scored (vid, v, nrm, cent_id, cent_sim) rows as a
    * declarative max_by AGGREGATE, not a window: the N×K scored rows
    * combine map-side to one best-so-far row per vector per task, so
    * the shuffle carries N rows — a row_number window would shuffle
    * all N×K rows WITH the vector column duplicated onto each (the
    * formulation that OOM'd the d36h probe at N×K ≈ 9×10⁸). Tie-break
    * identical to the window form: max of (cent_sim, −cent_id) is
    * highest similarity, then lowest cent_id.
    */
  private def argmaxAssign(scored: DataFrame): DataFrame =
    scored.groupBy("vid")
      .agg(max_by(struct(col("cent_id"), col("v"), col("nrm")),
        struct(col("cent_sim"), (-col("cent_id")).as("nid"))).as("best"))
      .select(col("vid"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.cent_id").as("cent_id"))

  /** The within-cluster pair stage shared by [[semDedup]] (exact
    * assignment) and [[semDedupIvf]] (bound-pruned assignment): one
    * equi-shuffle on cent_id, pairwise cosine inside each cluster,
    * lowest id kept as the exemplar.
    */
  private def semDedupPairs(assigned: DataFrame, minCosine: Double,
      idCol: String): DataFrame = {
    val a = assigned.select(col("cent_id"), col("vid").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cent_id"), col("vid").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val dropped = a.join(b, Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFns.cosinePre(VectorFns.dot(col("v_a"), col("v_b")),
        col("n_a"), col("n_b")) >= minCosine)
      .select(col("id_b").as("vid")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.select(col("vid"), col("cent_id"))
      .join(dropped, Seq("vid"), "left")
      .select(col("vid").as(idCol), col("cent_id"),
        col("is_dropped").isNull.as("kept"))
  }

  /** Deterministic driver-side grouping of the (unit-normalized) fine
    * centroids into `kCoarse` coarse cells — the quantizer-of-the-
    * quantizer that [[semDedupIvf]] prunes assignment through. Plain
    * Lloyd on the K centroid points (K is driver-sized by
    * construction — it IS the broadcast quantizer), stride init, fixed
    * iterations, ties to the lowest group: bit-deterministic. Returns
    * (groupId, unitMeanVec, radius) with radius = max ‖ĉ_f − ĝ‖ over
    * members, plus each fine centroid's group. Empty groups are
    * dropped (their bound would be vacuous).
    */
  private[graft] def coarseCentroidGroups(
      centroids: Seq[(Long, Seq[Double])], kCoarse: Int, iters: Int = 5)
      : (Seq[(Int, Seq[Double], Double)], Map[Long, Int]) = {
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def dotL(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val fine = centroids.sortBy(_._1).map { case (id, v) => (id, unit(v)) }
    val k = math.min(kCoarse, fine.size).max(1)
    val step = math.max(1, fine.size / k)
    var means: Vector[Seq[Double]] =
      fine.indices.by(step).take(k).map(i => fine(i)._2).toVector
    var groups: Map[Long, Int] = Map.empty
    for (_ <- 0 until iters) {
      groups = fine.map { case (id, v) =>
        id -> means.indices.maxBy(i => (dotL(v, means(i)), -i))
      }.toMap
      means = means.indices.map { i =>
        val members = fine.filter { case (id, _) => groups(id) == i }
        if (members.isEmpty) means(i)
        else unit(members.map(_._2).transpose.map(_.sum))
      }.toVector
    }
    val nonEmpty = means.indices.filter(i => groups.values.exists(_ == i))
    val remap = nonEmpty.zipWithIndex.toMap
    val out = nonEmpty.map { i =>
      val members = fine.filter { case (id, _) => groups(id) == i }
      val radius = members.map { case (_, v) =>
        math.sqrt(v.iterator.zip(means(i).iterator)
          .map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      (remap(i), means(i), radius)
    }
    (out, groups.map { case (id, g) => id -> remap(g) })
  }

  /** SemDeDup with IVF-ASSISTED assignment (the r8 verdict's ask #4):
    * identical output to [[semDedup]] — same pair stage, same keep
    * rule, and the assignment itself is EXACT, not approximate — but
    * the argmax no longer scores every vector against all K fine
    * centroids when the quantizer has cluster-of-clusters structure.
    * The K centroids are grouped into √K coarse cells driver-side
    * ([[coarseCentroidGroups]]); per vector, cosines to the √K cell
    * means give a lower bound lb = max_g(sim_g − r_g) on the
    * achievable best fine cosine (on the unit sphere |v̂·(ĉ_f − ĝ)| ≤
    * ‖ĉ_f − ĝ‖, so every member of cell g scores within ±r_g of
    * sim_g), and a fine centroid is scored ONLY when sim_g + d_f ≥
    * lb − ε, where d_f = ‖ĉ_f − ĝ‖ is ITS OWN distance to its cell
    * mean — a per-centroid bound, tighter than the cell radius. Every
    * centroid achieving the max survives (its bound ≥ its cosine ≥
    * lb), ties included, so the final window breaks ties exactly like
    * the exact path; ε = 1e-9 absorbs double rounding — over-wide
    * survival costs speed, never changes the winner. Assignment work
    * drops from O(N·K) toward O(N·√K) when cells are compact relative
    * to their separation.
    *
    * GEOMETRY-DRIVEN PLAN CHOICE: the bounds only pay when the fine
    * centroids actually group (topic→subtopic structure — SemDeDup's
    * own premise). On a quantizer whose centroids are mutually
    * near-orthogonal (high-dim uniform data), every cell radius
    * approaches √2, the bounds are vacuous, and the pruning machinery
    * is pure overhead — measured 4× SLOWER than exact at 100×. The
    * operator inspects the cell geometry driver-side (max radius vs
    * half the minimum inter-cell-mean separation — the classic
    * well-separated-clusters test) and falls back to the exact
    * broadcast argmax when pruning cannot fire; both plans produce
    * identical frames, so the choice is invisible to the oracle
    * (d36's exact-argmax SQL replay pins either plan unchanged).
    */
  def semDedupIvf(emb: DataFrame, centroids: Seq[(Long, Seq[Double])],
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semDedupPairs(assignPruned(emb, centroids, idCol, vecCol),
      minCosine, idCol)

  /** Bound-pruned assignment (see [[semDedupIvf]]); falls back to
    * [[assignExact]] when the cell geometry cannot pay.
    */
  private def assignPruned(emb: DataFrame,
      centroids: Seq[(Long, Seq[Double])], idCol: String,
      vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val kCoarse = math.ceil(math.sqrt(centroids.size.toDouble)).toInt
    val (cells, fineGroup) = coarseCentroidGroups(centroids, kCoarse)
    val nCells = cells.size
    // pruning-power estimate, driver-side (K'² cell dots): for a vector
    // sitting AT cell mean g (csim_g ≈ 1, so lb ≥ 1 − rad_g), cell h is
    // provably prunable iff dot(ĝ, ĥ) + rad_h < 1 − rad_g. The mean
    // prunable fraction over ordered cell pairs predicts what the
    // per-row bounds will deliver; below half, the machinery cannot pay
    // for itself (measured 4× overhead on mutually-near-orthogonal
    // centroids, whose radii approach √2 and prune nothing) and the
    // exact broadcast argmax is the better plan. NOTE pairwise cell
    // SEPARATION is deliberately not the test: cells subdividing one
    // tight super-cluster sit on top of each other, which harms
    // nothing — a vector near them keeps them all and prunes the rest.
    val prunedFrac =
      if (nCells < 2) 0.0
      else {
        val pairs = for (a <- cells; b <- cells if a._1 != b._1) yield {
          val d = a._2.zip(b._2).map { case (x, y) => x * y }.sum
          if (d + b._3 < 1.0 - a._3 - 1e-9) 1.0 else 0.0
        }
        pairs.sum / pairs.size
      }
    if (prunedFrac < 0.5)
      return assignExact(emb, centroids, idCol, vecCol)

    // one codegen'd expression per row decides the whole assignment
    // ([[graft.functions.IvfAssignExpr]] — the relational formulations
    // of the survivor logic all fell off the fast path: HOF lambdas
    // interpret, per-cell literal dot columns blow codegen limits, and
    // explode+join shuffles the vector per candidate); bit-identical to
    // assignExact by the bound argument in the expression's Scaladoc
    def unitv(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val sorted = centroids.sortBy(_._1)
    val dim = sorted.head._2.length
    require(sorted.forall(_._2.length == dim),
      "assignPruned: centroid dimensions differ")
    val cellsSorted = cells.sortBy(_._1)
    val cellMean = cellsSorted.map(_._2).toIndexedSeq
    val expr = graft.functions.IvfAssignExpr(
      org.apache.spark.sql.GraftExpressionBridge.expression(col("v")),
      flatFine = sorted.flatMap(_._2).toArray,
      fineIds = sorted.map(_._1).toArray,
      fineNorms = sorted.map(c => math.sqrt(c._2.map(x => x * x).sum)).toArray,
      fineCell = sorted.map(c => fineGroup(c._1)).toArray,
      fineD = sorted.map { case (id, v) =>
        val u = unitv(v); val m = cellMean(fineGroup(id))
        math.sqrt(u.zip(m).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.toArray,
      flatCells = cellsSorted.flatMap(_._2).toArray,
      rads = cellsSorted.map(_._3).toArray,
      dim = dim)
    emb.select(col(idCol).as("vid"),
        VectorFns.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
      .withColumn("cent_id",
        org.apache.spark.sql.GraftExpressionBridge.column(expr))
      .select(col("vid"), col("v"), col("nrm"), col("cent_id"))
  }
}
