package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators: brute-force cosine top-k as
  * the exact baseline, and sign-random-projection LSH bucketing as the
  * scale path (candidates from a bucket equi-join, then exact re-rank).
  *
  * Vectors are `array<float>` columns cast to double. Dot products go
  * through the custom codegen'd `vec_dot` expression (a tight primitive
  * loop; the built-in aggregate/zip_with higher-order route is
  * interpreted and an order of magnitude slower on pairwise scans).
  * Norms are computed once per vector *before* any pair join, so each
  * pair costs exactly one dot product.
  */
object VectorOps {

  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** id + vector + precomputed norm, ready for a pair join. Zero-norm
    * (and null) vectors are dropped here: cosine is undefined for them
    * and under ANSI mode the 0 denominator would abort the whole scan
    * rather than yield NaN. */
  private def withNorm(df: DataFrame, id: String, vec: String, idOut: String,
                       vecOut: String, nOut: String): DataFrame =
    df.select(col(id).as(idOut), asDouble(col(vec)).as(vecOut))
      .withColumn(nOut, norm(col(vecOut)))
      .filter(col(nOut) > 0)

  /** Test face of [[withNorm]] (the (vid, v, n) shape candidate
    * generators consume). */
  private[graft] def normalizedForTest(df: DataFrame, id: String,
                                       vec: String): DataFrame =
    withNorm(df, id, vec, "vid", "v", "n")

  /** Hard-negative mining for contrastive/embedding training: per
    * query vector, the k most-cosine-similar candidates with a
    * DIFFERENT label — the "confusable but wrong" examples a triplet
    * or InfoNCE loss wants.
    *
    * EXACT form — the small-sf correctness twin. The label inequality
    * is a non-equi predicate, so this plan is a BroadcastNestedLoopJoin
    * whose build side is the ENTIRE query batch scored against every
    * candidate: cost O(|queries|·|corpus|), memory O(|queries|). Hard
    * cap: only run with a bounded query batch (≲ a few thousand rows);
    * the production path at corpus scale is [[hardNegativesLsh]], whose
    * oracle twin this exact form is (the q_dedup_groups /
    * q_dedup_groups_capped pattern). */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, id: String,
                    vec: String, label: String, k: Int): DataFrame = {
    def prep(df: DataFrame, idOut: String, labOut: String,
             vecOut: String, nOut: String): DataFrame =
      df.select(col(id).as(idOut), col(label).as(labOut),
          asDouble(col(vec)).as(vecOut))
        .withColumn(nOut, norm(col(vecOut)))
        .filter(col(nOut) > 0)
    val q = prep(queries, "query_id", "q_label", "qv", "qn")
    val c = prep(candidates, "cand_id", "c_label", "cv", "cn")
    val scored = c.join(broadcast(q), col("q_label") =!= col("c_label"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "q_label", "cand_id", "c_label", "cos", "rank")
  }

  /** Hard-negative mining, the corpus-scale path: candidates come from
    * the multi-table SRP-LSH bucket EQUI-join (same tables/buckets as
    * [[annTopKMulti]]), the label inequality is a cheap POST-filter on
    * the collided pairs, and only survivors pay an exact cosine +
    * per-query top-k. Nothing here is a nested-loop or cartesian plan:
    * the one join is keyed on (table, bucket), so Catalyst/AQE picks
    * broadcast vs shuffled-hash by the ACTUAL query-batch size — a
    * corpus-fraction batch shuffles on the bucket key instead of
    * broadcasting (the exact form's scale-killer). Recall < 1 by
    * construction; dial it with `tables`. [[hardNegatives]] is the
    * exactness oracle twin. */
  def hardNegativesLsh(df: DataFrame, id: String, vec: String, label: String,
                       planes: Int, tables: Int, k: Int,
                       queryPred: Column,
                       maxBucket: Option[Int] = Scale.BucketCap): DataFrame =
    vecDims(df, vec) match {
      case None =>
        df.select(col(id).as("query_id"), col(label).as("q_label"),
          col(id).as("cand_id"), col(label).as("c_label"),
          lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
      case Some(dims) =>
        val perTable = (0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            bucketCol(col("vq"), dims, planes, p => t * planes + p).as("bucket"))
        }
        // bucket frame is NARROW (id, label, table, bucket) — the
        // vector payload never rides the ×tables explode or any
        // candidate shuffle; it re-enters only for the re-rank below
        val frame = df.filter(col(vec).isNotNull)
          .select(col(id).as("vid"), col(label).as("lab"),
            asDouble(col(vec)).as("v"), queryPred.as("__isq"))
          .filter(norm(col("v")) > 0)
          .withColumn("vq", quantized(col("v")))
          .select(col("vid"), col("lab"), col("__isq"),
            explode(array(perTable: _*)).as("tb"))
          .select(col("vid"), col("lab"), col("__isq"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val q = frame.filter(col("__isq"))
          .select(col("vid").as("query_id"), col("lab").as("q_label"),
            col("tbl"), col("bucket"))
        val cAll = frame.select(col("vid").as("cand_id"),
          col("lab").as("c_label"), col("tbl"), col("bucket"))
        // `maxBucket`: keep a DETERMINISTIC h64-ordered sample of the
        // candidate side per (table, bucket) — round-13 ScaleProbe
        // measured the uncapped bucket join's max-task ×97 under a
        // 10×-duplicated corpus (q×c fan-out per bucket is quadratic
        // in duplication). Capped, each query scores ≤ tables·cap
        // candidates and the per-bucket fan-out is linear. A dup blob
        // is represented by its sample — mining hundreds of copies of
        // the SAME hard negative is redundant by definition; the
        // recall trade is the usual LSH dial, pinned by the capped
        // twin's own oracle (which replays this sample relationally).
        // Queries are never dropped — every query keeps its k.
        // The cap is RANK-FREE ([[Scale.boundedMembers]]): round 13's
        // row_number spelling still sorted the storm bucket's full
        // membership in one task (measured ×17.7 max-task at 10×);
        // the mergeable bottomk aggregate keeps the identical
        // (h64, id)-least set with ≤ cap entries per partial buffer,
        // and the kept ids re-attach their label via a kept-side-small
        // equi-join AQE broadcasts.
        val c = maxBucket match {
          case Some(cap) =>
            Scale.boundedMembers(cAll.select("tbl", "bucket", "cand_id"),
                Seq("tbl", "bucket"), "cand_id", cap)
              .join(cAll, Seq("tbl", "bucket", "cand_id"))
          case None => cAll
        }
        // dedup multi-table collisions on 16-byte id pairs
        val cand = c.join(q, Seq("tbl", "bucket"))
          .filter(col("q_label") =!= col("c_label")) // post-filter, not a join pred
          .select("query_id", "cand_id").distinct()
        val vecs = df.filter(col(vec).isNotNull)
          .select(col(id).as("vid"), col(label).as("lab"),
            asDouble(col(vec)).as("v"))
          .withColumn("nrm", norm(col("v")))
          .filter(col("nrm") > 0)
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("cand_id").asc)
        cand
          .join(vecs.select(col("vid").as("query_id"),
            col("lab").as("q_label"), col("v").as("qv"),
            col("nrm").as("qn")), Seq("query_id"))
          .join(vecs.select(col("vid").as("cand_id"),
            col("lab").as("c_label"), col("v").as("cv"),
            col("nrm").as("cn")), Seq("cand_id"))
          .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "q_label", "cand_id", "c_label", "cos", "rank")
    }

  /** Int8 scalar quantization: per-dimension [min, max] over the
    * corpus, then code_d = round((x_d − min_d) / span_d · 255) − 128
    * stored as a byte — a 4× smaller ANN scan (float32 → int8) with
    * dequantized distances `min_d + (code_d+128)/255 · span_d`.
    *
    * Scale posture: the stats aggregate is DIMENSION-sized (one
    * (dim, min, max) row per dimension regardless of corpus size —
    * partial-agg map-side, final agg over ≤ a few thousand groups),
    * collapsed to a single two-array row that broadcasts back; encode
    * and dequantize are then map-only `transform`s. Nothing corpus-
    * sized shuffles or collects. Every step is deterministic
    * arithmetic, so the whole path is exactly DuckDB-oracle-able
    * (unlike k-means PQ, whose codebooks the oracle can't replay in
    * SQL). */
  def sq8Stats(df: DataFrame, vec: String): DataFrame =
    df.select(posexplode(asDouble(col(vec))).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          s => s.getField("mn")).as("mins"),
        transform(array_sort(collect_list(struct(col("d"), col("mx")))),
          s => s.getField("mx")).as("maxs"))

  /** Attach `codes: array<tinyint>` (constant dimensions encode 0). */
  def sq8Encode(df: DataFrame, id: String, vec: String): DataFrame = {
    val stats = sq8Stats(df, vec)
    df.select(col(id), asDouble(col(vec)).as("__v"))
      .crossJoin(broadcast(stats))
      .withColumn("codes", transform(col("__v"), (x, i) => {
        val mn = element_at(col("mins"), i + 1)
        val span = element_at(col("maxs"), i + 1) - mn
        when(span === 0d, lit(-128).cast("byte"))
          .otherwise((round((x - mn) / span * 255) - 128).cast("byte"))
      }))
  }

  /** Reconstruct the dequantized vector from codes + stats columns. */
  def sq8Dequant(codes: Column, mins: Column, maxs: Column): Column =
    transform(codes, (c, i) => {
      val mn = element_at(mins, i + 1)
      val span = element_at(maxs, i + 1) - mn
      mn + (c.cast("double") + 128d) / 255d * span
    })

  /** Brute-force cosine top-k over the DEQUANTIZED int8 corpus — the
    * memory-bound ANN scan a 100 TB deployment actually runs (codes
    * stream off disk at a quarter of the float32 rate; exactness
    * degrades only by the quantization step, which the oracle replays
    * bit-for-bit). */
  def sq8TopK(df: DataFrame, id: String, vec: String, k: Int,
              nQueries: Int): DataFrame = {
    val deq = sq8Encode(df, id, vec)
      .withColumn("dq", sq8Dequant(col("codes"), col("mins"), col("maxs")))
      .select(col(id), col("dq"))
    cosineTopK(deq.filter(col(id) < nQueries), deq, id, "dq", k)
  }

  /** id + integer micro-unit fixed-point vector (vf_d = round(x_d·1e6)
    * as long): the quantization under [[pqEncode]]/[[pqAdcTopK]] that
    * makes every distance an exact integer — and therefore DuckDB-
    * oracle-able bit for bit (float sums depend on accumulation
    * order; integer sums don't). */
  private def fixedPoint(df: DataFrame, id: String, vec: String): DataFrame =
    df.filter(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"),
        // deliberately the HOF transform, NOT the codegen'd vec_fixp:
        // the lambda keeps this projection OUT of the downstream
        // whole-stage span, and that is a measured 4x WIN here — the
        // PQ `codes` consumer is an m*ksub literal-array expression
        // whose generated method is already near the JIT compile
        // ceiling; folding the quantizer into the same span pushed
        // q_pq_encode 1.0 -> 4.2 s at sf0.1 (vec_fixp appeared ONCE
        // in that plan, so it was span growth, not re-evaluation)
        transform(asDouble(col(vec)),
          x => round(x * 1e6).cast("long")).as("vf"))

  /** Deterministic PQ codebook: the fixed-point subvectors of the
    * `ksub` lowest-id vectors, split into `m` contiguous subspaces —
    * returned as [subspace][centroid][dim]. The same lowest-id
    * stand-in as [[ivfTopK]]'s coarse centroids (swap in per-subspace
    * k-means for production recall; the plan shape downstream is
    * unchanged). Bounded driver collect: ksub rows. */
  private def pqCodebook(fixed: DataFrame, m: Int,
                         ksub: Int): Array[Array[Array[Long]]] = {
    val cents = fixed.orderBy("vid").limit(ksub).collect()
      .map(_.getSeq[Long](1).toArray)
    require(cents.nonEmpty, "PQ needs a non-empty corpus")
    val dsub = cents.head.length / m
    Array.tabulate(m)(j => cents.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** Product quantization encode: each vector → `m` sub-codes, code_j =
    * argmin over the subspace-j codebook of the exact integer squared
    * distance (ties → lowest code). An m-byte-per-vector representation
    * — the memory step past [[sq8Encode]] (4× → dim/m·4× compression);
    * at 100 TB the ANN scan streams codes, never raw floats.
    * Map-only: the codebook is plan-time literals, nothing shuffles.
    *
    * Distances run through the codegen'd `vec_dot` on integer-VALUED
    * doubles (micro-unit magnitudes keep every product and sum below
    * 2^53, so the arithmetic is exact); ranking by ‖c‖² − 2·x·c equals
    * ranking by the full squared distance — the two differ by the
    * per-row constant ‖x‖², ties included — which avoids both a
    * per-centroid interpreted fold (higher-order fns are
    * CodegenFallback, measured ~10× slower here) and any subtraction
    * loop. */
  def pqEncode(df: DataFrame, id: String, vec: String, m: Int,
               ksub: Int): DataFrame = {
    val fixed = fixedPoint(df, id, vec)
    val book = pqCodebook(fixed, m, ksub)
    val dsub = book(0)(0).length
    val vfd = col("vf").cast("array<double>")
    val codes = array((0 until m).map { j =>
      // struct-min does the argmin; (d asc, ci asc) ties pick the
      // lowest code, same tie rule as the oracle's row_number
      val sub = slice(vfd, j * dsub + 1, dsub)
      array_min(array(book(j).toIndexedSeq.zipWithIndex.map { case (c, ci) =>
        val cd = c.map(_.toDouble)
        val cnorm = cd.map(x => x * x).sum
        struct((lit(cnorm) - lit(2.0) * dot(sub, typedLit(cd.toSeq))).as("d"),
          lit(ci).as("ci"))
      }: _*)).getField("ci")
    }: _*)
    fixed.withColumn("codes", codes)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query's exact
    * per-(subspace, code) distance table is baked as plan-time literal
    * arrays, so scoring a candidate is m codegen'd `element_at` lookups
    * + adds — no floats, no vector reads, the scan touches only the
    * m-byte codes. Query = the lowest-id vector (deterministic);
    * distances are exact integers end-to-end. Global top-k plans as
    * TakeOrderedAndProject (per-partition heads, no full sort shuffle);
    * the rank window runs on k rows. */
  def pqAdcTopK(df: DataFrame, id: String, vec: String, m: Int, ksub: Int,
                k: Int): DataFrame = {
    val fixed = fixedPoint(df, id, vec)
    val book = pqCodebook(fixed, m, ksub)
    val dsub = book(0)(0).length
    val q = fixed.orderBy("vid").limit(1).collect()(0)
    val (qid, qf) = (q.getLong(0), q.getSeq[Long](1).toArray)
    // dtab(j)(c) = exact squared distance from the query's j-th
    // subvector to codebook entry c — computed driver-side on the
    // SAME Spark-rounded fixed-point values (no re-rounding skew)
    val dtab = Array.tabulate(m) { j =>
      val qs = qf.slice(j * dsub, (j + 1) * dsub)
      book(j).map(c => qs.zip(c).map { case (a, b) =>
        val d = a - b; d * d }.sum)
    }
    val adist = (0 until m).map { j =>
      element_at(typedLit(dtab(j).toSeq),
        element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val top = pqEncode(df, id, vec, m, ksub)
      .filter(col("vid") =!= qid)
      .select(col("vid"), adist.as("adist"))
      .orderBy(col("adist").asc, col("vid").asc).limit(k)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("adist").asc, col("vid").asc)))
      .select(col("vid").as("cand_id"), col("adist"), col("rnk"))
  }

  /** Brute-force cosine top-k: each query row is scored against every
    * candidate. Queries are broadcast (the small side); candidates
    * stream by partition; per-query top-k is a window rank. Exact,
    * O(|Q|·|C|) dots — one per pair, norms precomputed. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, id: String,
                 vec: String, k: Int, excludeSelf: Boolean = true): DataFrame =
    cosineTopKPrepared(
      withNorm(queries, id, vec, "query_id", "qv", "qn"),
      withNorm(candidates, id, vec, "cand_id", "cv", "cn"), k, excludeSelf)

  /** [[cosineTopK]] over ALREADY-prepared (id, vector, norm) frames —
    * `q` as (query_id, qv, qn), `c` as (cand_id, cv, cn). Lets a gate
    * query reuse its persisted normalized base instead of re-deriving
    * the corpus on both sides of the panel leg (same expressions on
    * the same values, bit-identical output). */
  private def cosineTopKPrepared(q: DataFrame, c: DataFrame, k: Int,
                                 excludeSelf: Boolean = true): DataFrame = {
    val scored = c.join(broadcast(q),
        if (excludeSelf) col("query_id") =!= col("cand_id") else lit(true))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos", "rank")
  }

  /** All near-duplicate pairs with cosine ≥ threshold (exact, pairwise;
    * for scale, use [[cosineNearDupBlocked]] — same result, distributed
    * plan — or gate through [[lshNearDup]] when the threshold is high
    * enough for LSH to prune). */
  def cosineNearDup(df: DataFrame, id: String, vec: String,
                    threshold: Double): DataFrame = {
    val a = withNorm(df, id, vec, "vec_a", "va", "na")
    val b = withNorm(df, id, vec, "vec_b", "vb", "nb")
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Exact all-pairs near-dup as a DISTRIBUTED plan: the inequality
    * self-join above plans as BroadcastNestedLoopJoin (one broadcast
    * side, quadratic work concentrated per task) — fine at spec scale,
    * wrong at 100×. Here ids hash into `blocks` buckets and each of
    * the B(B+1)/2 block PAIRS becomes one equi-join key, so the same
    * O(n²) dot products spread evenly over B(B+1)/2 shuffle keys with
    * rows replicated ~B/2× (n·B rows moved, vs n·P for the broadcast
    * form) and no nested-loop operator anywhere. Exactness is why this
    * exists: at a low threshold (τ≈0.4, angle 66°) NO oblivious
    * candidate scheme can prune — measured on this corpus, every
    * full-recall SRP-LSH setting emits ≥87% of all pairs as candidates
    * — so the scale answer for low τ is to distribute the exact scan,
    * not to approximate it. Size `blocks` ≈ √(2·cluster-cores) so the
    * key count comfortably exceeds the parallelism. Emits each
    * unordered pair once: a pair in blocks (i ≤ j) materializes only
    * under key (i,j) — the a-side fans out to keys (blk..B-1), the
    * b-side to (0..blk), and same-block ties break on id order. */
  def cosineNearDupBlocked(df: DataFrame, id: String, vec: String,
                           threshold: Double, blocks: Int = 16): DataFrame = {
    val base = withNorm(df, id, vec, "vid", "v", "n")
      .withColumn("blk", pmod(hash(col("vid")), lit(blocks)))
    val a = base.withColumn("bb",
        explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("vid").as("id_a"), col("v").as("va"), col("n").as("na"),
        col("blk").as("ba"), col("bb"))
    val b = base.withColumn("ba", explode(sequence(lit(0), col("blk"))))
      .select(col("vid").as("id_b"), col("v").as("vb"), col("n").as("nb"),
        col("ba"), col("blk").as("bb"))
    // the even spread over B(B+1)/2 keys is this operator's whole
    // point; pin it with an explicit-count exchange — planned from raw
    // size estimates, the tiny-input join broadcasts one side and runs
    // the O(n²) dot products in the SCAN's split count (measured: 2
    // tasks carrying 5.3 s of CPU at sf0.1, the serialization this
    // operator exists to avoid)
    Scale.fanoutRepartition(a, col("ba"), col("bb")).join(b, Seq("ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"), col("cos"))
  }

  /** Mutual (reciprocal) kNN graph: edge (a, b) survives when b sits
    * in a's cosine top-k AND a in b's — the standard density-aware
    * sparsifier in front of HDBSCAN/UMAP-style pipelines (one-sided
    * kNN edges into a hub node dissolve cluster boundaries; mutuality
    * prunes hubs by construction). Ranks are deterministic: ties on
    * cosine break by neighbor id. This exact form pairs every vector
    * (the small-sf oracle regime, like [[cosineNearDupBlocked]]); at
    * scale swap the pair generator for the IVF/LSH candidate paths —
    * the rank/mutuality algebra downstream is unchanged. */
  def knnGraphMutual(df: DataFrame, id: String, vec: String,
                     k: Int): DataFrame =
    mutualTopK(cosineNearDupBlocked(df, id, vec, threshold = -1.0), k)

  /** Shared mutual-rank algebra: undirected scored pairs in, mutual
    * top-k edges out. Candidate-generator-agnostic — fed by the exact
    * blocked scan ([[knnGraphMutual]]) or the SRP-LSH bucket join
    * ([[knnGraphMutualLsh]]); identical output whenever the candidate
    * set covers every node's true top-k. Ranks are deterministic (ties
    * on cosine break by neighbor id). */
  private def mutualTopK(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // symmetrize with ONE explode pass, not a self-union: the union's
    // two branches each re-executed the upstream candidate re-rank
    // (the exact-cosine join and its dot products — measured as two
    // duplicate full-size stages, 11.5 s + 7.6 s executor time at
    // sf0.1 inside q_knn_graph_capped's final job; the neardupEdges
    // symmetrization note, applied here). explode_outer of a 2-element
    // literal array is never null/empty, so no post-filter is needed.
    val dir = pairs
      .select(explode_outer(array(
        struct(col("vec_a").as("src"), col("vec_b").as("dst"), col("cos")),
        struct(col("vec_b").as("src"), col("vec_a").as("dst"), col("cos"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos").as("cos"))
    // explicit-count exchange under the rank window: the pair set is
    // ×2k the node count but small in BYTES, so AQE coalesces the
    // window's exchange to one task and the whole rank runs serially
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    val top = Scale.fanoutRepartition(dir, col("src"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    // mutuality as ONE aggregate over the ranked edges, not a
    // top ⋈ reversed-top self-join: the join's two sides each re-read
    // the full directed-pair exchange and re-ran the rank window
    // (measured: two 57.8 MB shuffle reads + 9.4 s and 6.4 s of
    // window CPU inside q_knn_graph's final job at sf0.1). Each
    // directed edge appears exactly once in `dir`, so an undirected
    // pair normalizes to ≤2 rows — both present ⟺ the edge is mutual;
    // max() picks each direction's rank (the other row's slot is
    // null), and cos is direction-independent (computed once upstream,
    // exploded to both rows). The aggregate partial-combines map-side;
    // the window runs ONCE.
    top.select(least(col("src"), col("dst")).as("vec_a"),
        greatest(col("src"), col("dst")).as("vec_b"), col("cos"),
        when(col("src") < col("dst"), col("rk")).as("__rka"),
        when(col("src") > col("dst"), col("rk")).as("__rkb"))
      .groupBy("vec_a", "vec_b")
      .agg(count(lit(1)).as("__n"), max(col("cos")).as("cos"),
        max(col("__rka")).as("__rka"), max(col("__rkb")).as("__rkb"))
      .filter(col("__n") === 2)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"),
        col("__rka").cast("long").as("rank_a"),
        col("__rkb").cast("long").as("rank_b"))
      .orderBy("vec_a", "vec_b")
  }

  /** Mutual kNN graph, the corpus-scale path: candidate pairs come
    * from the multi-table SRP-LSH bucket EQUI-join (the
    * [[hardNegativesLsh]] narrow-row shape — ids and bucket keys
    * shuffle, vectors re-enter only for the exact cosine re-rank),
    * then the same mutual-rank algebra as [[knnGraphMutual]]. No
    * nested-loop or all-pairs block join anywhere: the one candidate
    * join is keyed on (table, bucket), so work scales with collision
    * mass, not N². Output ≡ the exact form whenever every node's true
    * top-k collides in ≥1 table (recall dial: 1−(1−p^planes)^tables);
    * KnnGraphSpec pins recall 1.0 at the declared settings on the
    * fixture. Honesty note, measured: THIS fixture's 5th-neighbor
    * cosines sit at 0.24–0.35 (near-orthogonal), so full recall needs
    * generous settings (few planes, many tables) under which pruning
    * is weak — the regime [[cosineNearDupBlocked]] documents. On
    * clustered corpora top-k neighbors are high-cosine and the same
    * plan prunes hard — MEASURED, not asserted: AnnRecallSpec's
    * mixture-of-Gaussians fixture pins recall 1.0 at (8 planes,
    * 8 tables) with candidate mass < 15% of all-pairs and the twin
    * wall-clock FASTER than the exact form; the plan SHAPE (bucketed
    * equi-join, no quadratic operator) is what survives 100×. */
  def knnGraphMutualLsh(df: DataFrame, id: String, vec: String, k: Int,
                        planes: Int, tables: Int,
                        maxBucket: Option[Int] = Scale.BucketCap): DataFrame = {
    val base = withNorm(df, id, vec, "vid", "v", "n")
    mutualFromCandidates(base,
      lshCandidatePairs(base, planes, tables, maxBucket), k)
  }

  /** Exact cosine re-rank + mutual-rank algebra over an externally
    * supplied candidate pair set — the tail [[knnGraphMutualLsh]] and
    * the clustered-regime gate ([[knnGraphClusteredGate]]) share. */
  private def mutualFromCandidates(base: DataFrame, cand: DataFrame,
                                   k: Int): DataFrame = {
    val va = base.select(col("vid").as("ida"), col("v").as("va"),
      col("n").as("na"))
    val vb = base.select(col("vid").as("idb"), col("v").as("vb"),
      col("n").as("nb"))
    // `<=>` join keys: `===` lets InferFiltersFromConstraints push the
    // norm-positivity constraint onto the candidate side WITH the whole
    // vector derivation substituted in — on the clustered gate corpus
    // that is 128 interpreted md5 calls per candidate row (measured
    // 15 s of a 20 s gate; the same IVF/LSH trap lshNearDup documents)
    val pairs = cand.join(va, col("vec_a") <=> col("ida"))
      .join(vb, col("vec_b") <=> col("idb"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select("vec_a", "vec_b", "cos")
    mutualTopK(pairs, k)
  }

  /** Deterministic CLUSTERED corpus derived from an id column alone —
    * the regime gate the shipped near-uniform embeddings can't
    * provide (their 5th-neighbor cosines sit at 0.24-0.35, forcing
    * full-recall LSH settings under which pruning is weak). Cluster
    * `id % clusters` gets a centroid of md5-derived components in
    * [-1, 1] (step 1e-3); each point adds an md5-derived jitter in
    * [-0.05, 0.05] (step 5e-5) — within-cluster cosine ≈ 0.997,
    * cross-cluster ≈ ±1/√dims. Every value is one integer-exact
    * division plus one addition, so BOTH engines materialize the
    * corpus byte-identically (the textI18n derivation pattern applied
    * to vectors); with ≥ k+1 points per cluster every true top-k
    * neighbor is within-cluster, the regime where tight SRP settings
    * hold recall 1.0 AND prune hard. */
  def clusteredGateVectors(df: DataFrame, id: String, clusters: Int,
                           dims: Int): DataFrame =
    df.select(col(id).as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), d =>
        (TextOps.h64(concat(lit("C"), (col(id) % clusters).cast("string"),
            lit("~"), d.cast("string"))) % 2001L - 1000L) / 1000.0 +
        (TextOps.h64(concat(lit("J"), col(id).cast("string"),
            lit("~"), d.cast("string"))) % 2001L - 1000L) / 20000.0
      ).as("embedding"))

  /** The clustered-regime gate as a DECLARED query: the production
    * SRP-LSH mutual-kNN plan ([[knnGraphMutualLsh]], verbatim algebra)
    * over [[clusteredGateVectors]] at TIGHT settings, with the
    * measured pruning pinned as data — every output row carries
    * `cand_pairs` (distinct LSH candidate pairs, bucketing replayed
    * independently by the DuckDB oracle) and `all_pairs` (N·(N−1)/2).
    * The oracle's edge set is BRUTE FORCE over the same derived
    * corpus, so a green row proves recall 1.0 at settings whose
    * candidate mass ≪ 1 is itself hash-gated — the claim AnnRecallSpec
    * could previously only measure off-gate. */
  def knnGraphClusteredGate(df: DataFrame, id: String, k: Int,
                            clusters: Int = 25, dims: Int = 32,
                            planes: Int = 8, tables: Int = 8): DataFrame = {
    val derived = clusteredGateVectors(df, id, clusters, dims)
    // persist(), not eager localCheckpoint: same one-materialization
    // reuse across the stats/re-rank branches, but lineage survives —
    // an executor lost mid-query recomputes the partition instead of
    // failing the query (the RankKernel doctrine; round-13 verdict
    // flagged the non-replicated checkpoint blocks here)
    val base = withNorm(derived, "vec_id", "embedding", "vid", "v", "n")
      .persist() // one signature pipeline, reused 3×
    // dims is this gate's own constructor constant — the vecDims
    // head(1) probe would otherwise run one serial partition of the
    // 64-md5-per-row derivation as its own job (measured ~0.5 s)
    val cand = lshCandidatePairs(base, planes, tables, maxBucket = None,
        dimsHint = Some(dims))
      .persist() // counted once, re-ranked once
    // collect-local diagnostics (the RankKernel pattern): as an eager
    // broadcast subquery the 1-row stats aggregate raced the main job
    // into materializing the persisted `cand` pipeline a second time
    // (two concurrent jobs, block locks notwithstanding — measured as
    // duplicate full-size stages in the capped twin). One sequential
    // driver action materializes base+cand exactly once; the values
    // re-attach as literals — identical columns, identical hash.
    val statsRow = cand.agg(count(lit(1)).as("cand_pairs"))
      .crossJoin(base.agg(count(lit(1)).as("__n")))
      .select(col("cand_pairs"),
        ((col("__n") * (col("__n") - 1)) / 2).cast("long").as("all_pairs"))
      .head()
    mutualFromCandidates(base, cand, k)
      .withColumn("cand_pairs", lit(statsRow.getLong(0)))
      .withColumn("all_pairs", lit(statsRow.getLong(1)))
      .orderBy("vec_a", "vec_b")
  }

  /** BOUNDED candidate pairs via multi-pass sorted-neighborhood inside
    * LSH buckets — the capped generator behind [[knnGraphCappedGate]].
    * ScaleProbe measured the plain bucket self-join
    * ([[lshCandidatePairs]]) growing its max-task shuffle records ×99
    * under a 10×-duplicated corpus: candidate pairs per bucket grow as
    * bucket size SQUARED, and duplication inflates exactly the buckets
    * near-dups share. Here each (table, bucket) sorts its members by a
    * PER-TABLE 1-D fixed-point projection (plane id `planes·tables+t`,
    * disjoint from every bucketing plane — the Hernández–Stolfo
    * multi-pass sorted-neighborhood method with a random-projection
    * sort key) and links every member to its `window` successors via
    * `lead` — per bucket of m members that is one O(m log m) sort and
    * ≤ m·window pairs, LINEAR in m where the self-join was quadratic.
    * Near-identical vectors share all sort keys, so they stay adjacent
    * in every pass and their edges survive any cap; `tables`
    * independent sort orders give interior-and-edge positions
    * different neighborhoods, which is what buys recall back. All
    * arithmetic is the engine-exact integer kind the oracle replays. */
  private[graft] def sortedWindowCandidates(base: DataFrame, planes: Int,
                                            tables: Int, window: Int,
                                            segTarget: Int = 512,
                                            dimsHint: Option[Int] = None)
      : DataFrame =
    dimsHint.orElse(vecDims(base, "v")) match {
      case None =>
        base.select(col("vid").as("vec_a"), col("vid").as("vec_b")).limit(0)
      case Some(dims) =>
        val perTable = (0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            bucketCol(col("vq"), dims, planes, p => t * planes + p)
              .as("bucket"),
            call_function("vec_dot_long", col("vq"),
                typedLit(Hashing.planeWeights(planes * tables + t, dims).toSeq))
              .as("fp"))
        }
        val bk = base.select(col("vid"), quantized(col("v")).as("vq"))
          .select(col("vid"), explode(array(perTable: _*)).as("tb"))
          .select(col("vid"), col("tb.tbl").as("tbl"),
            col("tb.bucket").as("bucket"), col("tb.fp").as("fp"))
        // SEGMENT oversized buckets before the window sort: round 13
        // measured a ×10 duplication storm growing this gate's wall
        // ×3.1 because the per-(table, bucket) sort funnels the storm
        // bucket's FULL membership through one task. Buckets split
        // into ⌈m/segTarget⌉ deterministic h64 salt segments; the
        // window chain runs per segment, and per-segment REPRESENTA-
        // TIVES (the (fp, vid)-least member, i.e. rn=1) are chained in
        // segment order so a split storm clique stays ONE connected
        // block (AnnRecallSpec's union-find contract). Honest buckets
        // (m ≤ segTarget) get nseg=1 — byte-identical to the unsplit
        // form — and the SPLIT DECISION is data-dependent planning
        // done cheaply (the RankKernel collect-local pattern): one
        // driver peek at the max bucket count, and a corpus where no
        // bucket overflows gets EXACTLY the pre-segmentation plan (no
        // count join, no representatives pass — the peek's identity
        // branch is what the oracle's segmented arithmetic reduces to
        // when every nseg = 1, so both plans hash-agree by
        // construction). Measured: the always-segmented form taxed
        // the sf0.1 gate +2.0 s for machinery the data never used.
        val cnts = bk.groupBy("tbl", "bucket").agg(count(lit(1)).as("__m"))
        // null max ⇔ empty input (reachable with a dimsHint, which
        // skips the emptiness-detecting vecDims probe): 0 takes the
        // unsplit branch, whose window chain over zero rows is empty
        val maxBucketN = {
          val r = cnts.agg(max("__m")).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        import org.apache.spark.sql.expressions.Window
        val (linked, stitchOpt) =
          if (maxBucketN <= segTarget) {
            val w = Window.partitionBy("tbl", "bucket")
              .orderBy(col("fp").asc, col("vid").asc)
            val succ = (1 to window).map(j => lead(col("vid"), j).over(w))
            (bk.select(col("vid"), array(succ: _*).as("nbrs")), None)
          } else {
            // the bucket-count join broadcasts (≤ tables·2^planes
            // rows), so the only bucket-keyed exchange is the window's
            // own (tbl, bucket, seg) — bounded by segTarget per task
            val bk2 = bk.join(broadcast(cnts), Seq("tbl", "bucket"))
              .withColumn("__nseg",
                expr(s"(__m + ${segTarget - 1}) div $segTarget"))
              .withColumn("seg",
                pmod(TextOps.h64(col("vid").cast("string")), col("__nseg")))
            val w = Window.partitionBy("tbl", "bucket", "seg")
              .orderBy(col("fp").asc, col("vid").asc)
            val succ = (1 to window).map(j => lead(col("vid"), j).over(w))
            val reps = bk2.groupBy("tbl", "bucket", "seg")
              .agg(min(struct(col("fp"), col("vid"))).as("r"))
              .select(col("tbl"), col("bucket"), col("seg"),
                col("r.vid").as("vid"))
            val wr = Window.partitionBy("tbl", "bucket")
              .orderBy(col("seg").asc)
            val stitch = reps
              .withColumn("nxt", lead(col("vid"), 1).over(wr))
              .filter(col("nxt").isNotNull)
              .select(col("vid").as("va"), col("nxt").as("vb"))
            (bk2.select(col("vid"), array(succ: _*).as("nbrs")), Some(stitch))
          }
        val chain = linked
          .select(col("vid").as("va"), explode(col("nbrs")).as("vb"))
          .filter(col("vb").isNotNull)
        stitchOpt.fold(chain)(chain.unionByName(_))
          .select(least(col("va"), col("vb")).as("vec_a"),
            greatest(col("va"), col("vb")).as("vec_b"))
          .distinct() // tables overlap; the lex order varies per pass
    }

  /** The CAPPED kNN-graph gate: [[knnGraphMutualLsh]]'s algebra with
    * [[sortedWindowCandidates]] as the candidate generator, over the
    * [[clusteredGateVectors]] derived corpus (the regime where tight
    * LSH settings hold and where ScaleProbe's 10× duplication inflates
    * every cluster — the uncapped twin's measured ×99 shape). Every
    * output row carries four pinned diagnostics the DuckDB oracle
    * replays independently: `cand_pairs` / `all_pairs` (the pruning
    * claim) and `recall_num` / `recall_den` — candidate recall of the
    * exact cosine top-k over a FIXED 100-node panel (`vec_id < 100`,
    * a constant so the exact leg stays O(100·N) at any corpus size),
    * so the recall-vs-exact-graph claim is hash-gated DATA, not a
    * spec-time measurement. The exact twins `q_knn_graph` /
    * `q_knn_graph_lsh` remain the small-sf full-recall checks. */
  def knnGraphCappedGate(df: DataFrame, id: String, k: Int,
                         clusters: Int = 25, dims: Int = 32,
                         planes: Int = 8, tables: Int = 8,
                         window: Int = 40, panelN: Int = 100): DataFrame = {
    val derived = clusteredGateVectors(df, id, clusters, dims)
    // persist(), not eager localCheckpoint — see knnGraphClusteredGate
    val base = withNorm(derived, "vec_id", "embedding", "vid", "v", "n")
      .persist() // one signature pipeline, reused 4×
    // dims is the gate's constructor constant — skip the vecDims probe
    // job (see knnGraphClusteredGate)
    val cand = sortedWindowCandidates(base, planes, tables, window,
        dimsHint = Some(dims))
      .persist() // counted once, re-ranked once, recalled once
    // collect-local diagnostics (the RankKernel pattern): the two
    // eager broadcast subqueries (stats, recall) launched CONCURRENT
    // jobs that both hit the unmaterialized persisted `cand` and each
    // computed the full pipeline — measured at sf0.1 as two identical
    // 64-task stages of 18.7 s + 15.2 s executor time, about half the
    // query. Sequential driver actions materialize base+cand once;
    // the 1-row values re-attach as literals (same columns/hash).
    val statsRow = cand.agg(count(lit(1)).as("cand_pairs"))
      .crossJoin(base.agg(count(lit(1)).as("__n")))
      .select(col("cand_pairs"),
        ((col("__n") * (col("__n") - 1)) / 2).cast("long").as("all_pairs"))
      .head()
    // the exact panel leg reads the PERSISTED base on both sides
    // (cosineTopKPrepared: same withNorm expressions over the same
    // values, bit-identical cosines) — the cosineTopK(derived, …) form
    // re-derived the 64-md5-per-row corpus twice more (measured: two
    // extra full-size stages, 15.4 s + 11.2 s executor time at sf0.1)
    val panelPairs = cosineTopKPrepared(
        base.filter(col("vid") < panelN).select(col("vid").as("query_id"),
          col("v").as("qv"), col("n").as("qn")),
        base.select(col("vid").as("cand_id"), col("v").as("cv"),
          col("n").as("cn")), k)
      .select(least(col("query_id"), col("cand_id")).as("vec_a"),
        greatest(col("query_id"), col("cand_id")).as("vec_b"))
      .distinct() // both endpoints in-panel → one normalized pair
    // one pass over the panel: cand is distinct on (vec_a, vec_b), so
    // a left join marks ≤1 hit per panel pair — count(__hit) ≡ the
    // left_semi count, without the second panel materialization.
    // The recall aggregate rides the FINAL job as a broadcast 1-row
    // crossJoin instead of its own sequential driver head(): statsRow
    // above has already materialized base+cand, so the r14 race (two
    // concurrent jobs both computing the unmaterialized persisted
    // pipeline) cannot recur — the panel leg now reads cache and
    // overlaps the main re-rank stages (guide §2.6), one driver
    // round-trip fewer. Same columns, same values, same hash.
    val recAgg = panelPairs
      .join(cand.withColumn("__hit", lit(1)), Seq("vec_a", "vec_b"), "left")
      .agg(count(col("__hit")).as("recall_num"),
        count(lit(1)).as("recall_den"))
    mutualFromCandidates(base, cand, k)
      .withColumn("cand_pairs", lit(statsRow.getLong(0)))
      .withColumn("all_pairs", lit(statsRow.getLong(1)))
      .crossJoin(broadcast(recAgg))
      .orderBy("vec_a", "vec_b")
  }

  /** Fixed-round Lloyd k-means in EXACT integer fixed point — the real
    * clustering behind SemDeDup cells and IVF coarse lists
    * ([[ivfTopK]] documents "production swaps in k-means centroids
    * without changing the plan"; this is that trainer). Everything is
    * deterministic and engine-exact so the assignment can be oracled:
    *
    *   - vectors quantize to 1e-6 fixed point (the q_centroid_sim
    *     twin: round(x·1e6) as bigint);
    *   - init = the `k` lowest-id vectors (the same deterministic
    *     stand-in IVF uses);
    *   - assignment = exact integer argmin of squared L2 over the k
    *     centroids (‖v‖² − 2·v·c + ‖c‖², all bigint, ties → lowest
    *     centroid id);
    *   - update = per-dim floor(Σ/n): Math.floorDiv on the driver,
    *     floor(sum::DOUBLE / n) in DuckDB — identical for every
    *     |Σ| < 2⁵³, far past any cluster's quantized mass. An emptied
    *     cluster keeps its previous centroid.
    *
    * Scale shape: per round ONE map-only assignment projection
    * against k baked centroid literals (vec_dot_long codegen — the
    * [[ivfTopK]] literal path) plus one (k·dims)-key map-combined
    * aggregate; the driver holds k·dims longs (the pcaProject
    * power-iteration pattern). `rounds` and `k` are bounded
    * constants; the corpus never leaves the executors. */
  def kmeansAssign(df: DataFrame, id: String, vec: String, k: Int,
                   rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, "kmeans: k ≥ 1, rounds ≥ 0")
    val base = df.filter(col(vec).isNotNull)
      .select(col(id).as("vid"), quantized(asDouble(col(vec))).as("vq"))
      .filter(size(col("vq")) > 0)
      .localCheckpoint(true) // consumed once per round + the final assign
    val cents = kmeansTrain(base, k, rounds)
    val out = base.withColumn("a", kmeansAssignCol(cents))
      .select(col("vid").as("vec_id"), col("a.cl").cast("long").as("cluster"),
        col("a.d2").as("dist2"))
    val sizes = out.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    out.join(broadcast(sizes), Seq("cluster"))
      .select("vec_id", "cluster", "dist2", "cluster_size")
      .orderBy("vec_id")
  }

  /** Exact-integer argmin-of-squared-L2 struct over `cents` (d2, cl);
    * `least` over structs breaks distance ties to the lowest cluster. */
  private def kmeansAssignCol(cents: Array[Array[Long]]): Column = {
    val vv = call_function("vec_dot_long", col("vq"), col("vq"))
    least(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct(
        (vv - lit(2L) * call_function("vec_dot_long", col("vq"),
          typedLit(c.toSeq)) + lit(cc)).as("d2"),
        lit(i).as("cl"))
    }: _*)
  }

  /** The Lloyd training loop shared by [[kmeansAssign]] and
    * [[ivfTopKKmeansExact]]: `rounds` exact-integer rounds over a
    * checkpointed (vid, vq) frame, returning the k quantized centroid
    * vectors (see [[kmeansAssign]] for the full contract). */
  private[graft] def kmeansTrain(base: DataFrame, k: Int,
                                 rounds: Int): Array[Array[Long]] = {
    val initRows = base.orderBy("vid").limit(k).collect()
    require(initRows.length == k, s"kmeans: need ≥ $k vectors")
    var cents: Array[Array[Long]] = initRows.map(_.getSeq[Long](1).toArray)
    var r = 0
    while (r < rounds) {
      val sums = base.withColumn("a", kmeansAssignCol(cents))
        .select(col("a.cl").as("cl"), posexplode(col("vq")).as(Seq("i", "x")))
        .groupBy("cl", "i").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect() // k·dims rows — bounded driver state, like pcaProject
      val byCl = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        byCl.get(ci).fold(old) { rows => // empty cluster keeps its centroid
          val next = old.clone()
          rows.foreach { row =>
            next(row.getInt(1)) = Math.floorDiv(row.getLong(2), row.getLong(3))
          }
          next
        }
      }
      r += 1
    }
    cents
  }

  /** [[ivfTopK]] with TRAINED coarse centroids, the ORACLE-EXACT form:
    * the integer Lloyd centers from [[kmeansTrain]], dequantized
    * (c/1e6, the same long→double division in both engines) and baked
    * into the SAME literal-assignment / probe / re-rank plan — the
    * swap [[ivfTopK]]'s scale note promises, demonstrated end-to-end
    * and DuckDB-replayable (q_ivf_kmeans). [[ivfTopKKmeans]] is the
    * spark.ml twin for library users (its MLlib trainer is seeded but
    * not engine-replayable, so it can't carry the oracle); list ids
    * here are the cluster indexes 0..nlists-1. Same assignment
    * strategy switch as [[ivfTopK]]: literal projection up to
    * `broadcastThreshold` lists, broadcast cross-join + max_by past it
    * (codegen stops scaling past dozens of baked centroid literals —
    * thousands of lists must go through the aggregate path). */
  def ivfTopKKmeansExact(df: DataFrame, id: String, vec: String, nlists: Int,
                         nprobe: Int, k: Int, queryPred: Column,
                         rounds: Int = 2,
                         broadcastThreshold: Int = 64): DataFrame = {
    val kmBase = df.filter(col(vec).isNotNull)
      .select(col(id).as("vid"), quantized(asDouble(col(vec))).as("vq"))
      .filter(size(col("vq")) > 0)
      .localCheckpoint(true)
    val cents = kmeansTrain(kmBase, nlists, rounds).zipWithIndex.map {
      case (c, i) => (i.toLong, c.map(_ / 1e6).toSeq)
    }
    val base = df.filter(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"),
        asDouble(col(vec)).as("v"), queryPred.as("__isq"))
      .filter(norm(col("v")) > 0)
    val (assigned, q) =
      if (cents.length <= broadcastThreshold)
        literalAssignment(base, cents, nprobe)
      else {
        val spark = df.sparkSession
        import spark.implicits._
        broadcastAssignment(base,
          cents.toSeq.toDF("cid", "cv").select(col("cid"),
            col("cv").cast("array<double>").as("cv")), nprobe)
      }
    rerankLists(assigned, q, k)
  }

  /** Distinct colliding id pairs from the multi-table SRP-LSH bucket
    * equi-join (narrow rows: ids and keys only). Factored out of
    * [[knnGraphMutualLsh]] so its cost is profileable in isolation.
    * With `maxBucket` set, delegates to the bounded kept-set generator
    * ([[cappedBucketPairs]] — the scale default at the public entry
    * points); `None` is the exact candidate set. */
  private[graft] def lshCandidatePairs(base: DataFrame, planes: Int,
                                       tables: Int,
                                       maxBucket: Option[Int] = None,
                                       dimsHint: Option[Int] = None): DataFrame =
    maxBucket match {
      case Some(cap) => cappedBucketPairs(base, planes, tables, cap, dimsHint)
      case None => lshCandidatePairsExact(base, planes, tables, dimsHint)
    }

  private def lshCandidatePairsExact(base: DataFrame, planes: Int,
                                     tables: Int,
                                     dimsHint: Option[Int] = None): DataFrame = {
    // fanoutRepartition, not repartition(col…): the self-join's output
    // is quadratic in bucket size, so AQE's map-output-sized coalescing
    // serialized the whole expansion into ONE task (measured 2.8 s of
    // the 4.8 s q_knn_graph_lsh wall at sf0.1); an explicit-count
    // exchange keeps the expansion cluster-parallel (Scale doc)
    val bk = Scale.fanoutRepartition(
      lshBucketsMulti(base, "vid", "v", planes, tables, dimsHint),
      col("tbl"), col("bucket"))
    val a = bk.select(col("vid").as("id_a"), col("tbl").as("tbl_a"),
      col("bucket").as("bkt_a"))
    val b = bk.select(col("vid").as("id_b"), col("tbl").as("tbl_b"),
      col("bucket").as("bkt_b"))
    // `<=>` keys + identical repartitions: same rationale as lshNearDup
    // (no inferred isnotnull rewrite below the exchange; ReuseExchange
    // materializes the signature pipeline once)
    a.join(b, col("tbl_a") <=> col("tbl_b") &&
        col("bkt_a") <=> col("bkt_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      .distinct() // a pair may collide in several tables
  }

  /** Profiling face of [[lshCandidatePairs]] (test/diagnostic use). */
  private[graft] def lshCandidatesForProfile(df: DataFrame, id: String,
      vec: String, planes: Int, tables: Int): DataFrame =
    lshCandidatePairs(withNorm(df, id, vec, "vid", "v", "n"), planes, tables)

  /** Sub-quadratic near-dup for HIGH thresholds: multi-table SRP-LSH
    * bucket equi-join generates candidates, an exact cosine re-check
    * keeps true pairs — the SemDeDup/dedup regime (τ ≥ ~0.9, near-copy
    * detection), where colliding 12-bit sign signatures prune random
    * pairs to ~2⁻¹² per table and candidates run ~0.1% of brute force.
    * Recall is the standard 1−(1−p^planes)^tables dial — verify it
    * against [[cosineNearDupBlocked]] on a fixture before trusting new
    * settings (q_ann_neardup is pinned recall-1 on ours). At τ ≈ 0.4
    * this degenerates (see [[cosineNearDupBlocked]]): every full-recall
    * setting is ≈ brute force — use the blocked exact scan instead. */
  def lshNearDup(df: DataFrame, id: String, vec: String, threshold: Double,
                 planes: Int, tables: Int,
                 maxBucket: Option[Int] = Scale.BucketCap): DataFrame =
    maxBucket match {
      case Some(cap) =>
        lshNearDupCapped(df, id, vec, threshold, planes, tables, cap)
      case None => lshNearDupExact(df, id, vec, threshold, planes, tables)
    }

  private def lshNearDupExact(df: DataFrame, id: String, vec: String,
                              threshold: Double, planes: Int,
                              tables: Int): DataFrame = {
    val base = withNorm(df, id, vec, "vid", "v", "n")
    // explicit-count exchange: see lshCandidatePairsExact (AQE would
    // coalesce the quadratic bucket expansion into 1 task)
    val bk = Scale.fanoutRepartition(
      lshBucketsMulti(base, "vid", "v", planes, tables),
      col("tbl"), col("bucket"))
    val a = bk.select(col("vid").as("id_a"), col("tbl").as("tbl_a"),
      col("bucket").as("bkt_a"))
    val b = bk.select(col("vid").as("id_b"), col("tbl").as("tbl_b"),
      col("bucket").as("bkt_b"))
    // `<=>` join keys: `===` would infer isnotnull(bucket) filters that
    // substitute the whole projection expression below the repartition
    // (the measured IVF/LSH trap); identical repartitions on both sides
    // let ReuseExchange materialize the signature pipeline once
    val cand = a.join(b, col("tbl_a") <=> col("tbl_b") &&
        col("bkt_a") <=> col("bkt_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      .distinct() // a pair may collide in several tables
    val va = base.select(col("vid").as("vec_a"), col("v").as("va"),
      col("n").as("na"))
    val vb = base.select(col("vid").as("vec_b"), col("v").as("vb"),
      col("n").as("nb"))
    cand.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** [[lshNearDup]] with a per-(table, bucket) membership cap — the
    * 100 TB form. ScaleProbe measured the uncapped bucket self-join's
    * max-task ×80 under a 10×-duplicated corpus (pairs per bucket grow
    * as membership², and duplication inflates exactly the buckets
    * near-copies share). Each bucket keeps at most `maxBucket` members
    * in deterministic (h64(id), id) order through the RANK-FREE
    * [[Scale.boundedMembers]] aggregate — partial buffers are ≤ cap
    * entries, so the storm bucket never funnels its membership through
    * one task even to be ranked — bounding per-bucket fan-out at cap²
    * CONSTANT in duplication. Recall trade: near-copies sampled apart
    * in an overflowing bucket lose their pair in THAT table; `tables`
    * independent samples are the usual dial, and the gate twin
    * ([[lshNearDupCappedGate]]) pins candidate mass and fixed-panel
    * recall as oracled data. */
  def lshNearDupCapped(df: DataFrame, id: String, vec: String,
                       threshold: Double, planes: Int, tables: Int,
                       maxBucket: Int): DataFrame =
    cappedNearDupParts(df, id, vec, threshold, planes, tables, maxBucket)._2

  /** (candidate pairs, thresholded scored pairs) for the capped
    * near-dup — the pair so the gate can count candidates without a
    * second derivation. */
  private def cappedNearDupParts(df: DataFrame, id: String, vec: String,
                                 threshold: Double, planes: Int, tables: Int,
                                 maxBucket: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // deliberately NOT persisted: caching the wide array<double>
    // column costs more than recomputing the narrow derivation
    // (measured 13.6 → 31.3 s at the 10× corpus with a persist here —
    // InMemoryRelation array materialization dominates)
    val base = withNorm(df, id, vec, "vid", "v", "n")
    val cand = cappedBucketPairs(base, planes, tables, maxBucket)
    val va = base.select(col("vid").as("vec_a"), col("v").as("va"),
      col("n").as("na"))
    val vb = base.select(col("vid").as("vec_b"), col("v").as("vb"),
      col("n").as("nb"))
    val out = cand.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
    (cand, out, base)
  }

  /** Distinct colliding id pairs among the CAP-KEPT members of each
    * (table, bucket): the bounded candidate generator shared by
    * [[lshNearDupCapped]] and the capped [[lshCandidatePairs]] path.
    * NO bucket-key repartition before the cap — the rank-free
    * aggregate must partial-combine on scan-partitioned data (a
    * pre-shuffle on the bucket key would re-create the very funnel the
    * cap removes). */
  private def cappedBucketPairs(base: DataFrame, planes: Int, tables: Int,
                                maxBucket: Int,
                                dimsHint: Option[Int] = None): DataFrame = {
    val kept = Scale.boundedMembers(
      lshBucketsMulti(base, "vid", "v", planes, tables, dimsHint),
      Seq("tbl", "bucket"), "vid", maxBucket)
    kept.select(col("vid").as("id_a"), col("tbl"), col("bucket"))
      .join(kept.select(col("vid").as("id_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      .distinct() // a pair may collide in several tables
  }

  /** The capped near-dup as a DECLARED gate: [[lshNearDupCapped]]'s
    * pairs with four pinned diagnostics riding every row, all replayed
    * independently by the DuckDB oracle — `cand_pairs`/`all_pairs`
    * (the pruning-mass claim) and `recall_num`/`recall_den` (coverage
    * of the BRUTE-FORCE ≥ threshold pairs over the fixed panel
    * `panelPred`, a constant-size set so the exact leg stays O(panel²)
    * at any corpus size). The uncapped [[lshNearDup]] twin stays the
    * small-sf full-recall check against the brute-force oracle. */
  def lshNearDupCappedGate(df: DataFrame, id: String, vec: String,
                           threshold: Double, planes: Int, tables: Int,
                           maxBucket: Int, panelPred: Column): DataFrame = {
    val (cand0, out0, base) =
      cappedNearDupParts(df, id, vec, threshold, planes, tables, maxBucket)
    // persist (recompute-tolerant), not checkpoint: cand feeds the
    // stats leg + the re-rank, out feeds the result + the recall leg —
    // without reuse each gate leg re-derives the augmented corpus and
    // the bucketing
    val cand = cand0.persist()
    val out = out0.persist()
    // The eager broadcast-subquery legs DO duplicate the persisted
    // cand/out derivation (profiled: two sets of the corpus-derivation
    // stages), but sequentializing them collect-local — the r14
    // kNN-gate treatment — measured SLOWER here (q_ann_neardup_capped
    // 2.16 → 3.34 s med at sf0.1/c32): the duplicates run concurrently
    // on otherwise-idle cores, while the sequential form pays three
    // driver round-trips and computes the brute panel twice. Kept
    // parallel deliberately.
    val stats = cand.agg(count(lit(1)).as("cand_pairs"))
      .crossJoin(base.agg(count(lit(1)).as("__n")))
      .select(col("cand_pairs"),
        ((col("__n") * (col("__n") - 1)) / 2).cast("long").as("all_pairs"))
    val truth = cosineNearDup(df.filter(panelPred), id, vec, threshold)
      .select("vec_a", "vec_b")
    val rec = truth.join(out.select("vec_a", "vec_b"),
        Seq("vec_a", "vec_b"), "left_semi")
      .agg(count(lit(1)).as("recall_num"))
      .crossJoin(truth.agg(count(lit(1)).as("recall_den")))
    out.crossJoin(broadcast(stats)).crossJoin(broadcast(rec))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * md5-derived integer uniform in [-1e6, 1e6]. Integer weights (and a
    * fixed-point vector quantization below) make the projection sign an
    * exact integer computation — identical across engines, partitionings
    * and summation orders, which a reproducible bucketing needs. Column
    * form kept for the oracle SQL twin; the Scala plans precompute the
    * same values driver-side ([[graft.ops.Hashing.planeWeights]]) — the
    * weights are a (planes × dims) CONSTANT, recomputing an md5 per
    * (plane, dim) per row was the dominant ANN cost. */
  def planeWeight(plane: Column, dim: Column): Column =
    TextOps.h64(concat(plane, lit(","), dim)) % 2000001L - 1000000L

  /** Fixed-point quantized copy of the vector: round(x·1e6) as bigint,
    * Spark `round` (HALF_UP) semantics — the exact form the oracle SQL
    * computes. */
  private def quantized(v: Column): Column =
    call_function("vec_fixp", v.cast("array<double>"))

  /** Bucket id column: bit p = (vq · w_p > 0), hyperplane weights
    * baked in as array literals, dot via the codegen'd vec_dot_long —
    * a pure projection, no explode / regroup. `planeIdOf` maps the
    * local bit position to the global plane id the weights derive from. */
  private def bucketCol(vq: Column, dims: Int, planes: Int,
                        planeIdOf: Int => Int): Column =
    (0 until planes).map { p =>
      val w = typedLit(Hashing.planeWeights(planeIdOf(p), dims).toSeq)
      when(call_function("vec_dot_long", vq, w) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-random-projection LSH bucket id: bit p = (v · r_p > 0) for
    * `planes` hyperplanes → an integer bucket. The dot product runs in
    * fixed point: round(x·1e6) · w, summed as bigints (exact, order-
    * independent). Vectors in the same bucket are cosine-similar
    * candidates; the bucket join is linear. Map-only: quantize once,
    * then `planes` codegen'd integer dots per row. `dims` is sampled
    * from the first row (embedding width is a table constant). */
  def lshBuckets(df: DataFrame, id: String, vec: String, planes: Int): DataFrame =
    vecDims(df, vec) match {
      case None => // empty input: keep the (vid, bucket) shape, lazily
        df.select(col(id).as("vid"), lit(0L).as("bucket")).limit(0)
      case Some(dims) =>
        df.select(col(id).as("vid"), quantized(asDouble(col(vec))).as("vq"))
          .select(col("vid"), bucketCol(col("vq"), dims, planes, p => p).as("bucket"))
    }

  /** Multi-table LSH buckets: `tables` independent hash tables of
    * `planes` hyperplanes each (plane ids offset per table so every
    * table draws different hyperplanes). A vector lands in one bucket
    * per table; near neighbors collide in ≥1 table with probability
    * 1−(1−p^planes)^tables — the standard recall dial. One row per
    * (vector, table), built columnar and exploded — no regroup. */
  def lshBucketsMulti(df: DataFrame, id: String, vec: String, planes: Int,
                      tables: Int, dimsHint: Option[Int] = None): DataFrame =
    dimsHint.orElse(vecDims(df, vec)) match {
      case None =>
        df.select(col(id).as("vid"), lit(0).as("tbl"), lit(0L).as("bucket"))
          .limit(0)
      case Some(dims) =>
        val perTable = (0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            bucketCol(col("vq"), dims, planes, p => t * planes + p).as("bucket"))
        }
        df.select(col(id).as("vid"), quantized(asDouble(col(vec))).as("vq"))
          .select(col("vid"), explode(array(perTable: _*)).as("tb"))
          .select(col("vid"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    }

  /** Embedding width, probed from one row (constant per table); None
    * when the input is empty or has no non-null vector. */
  private def vecDims(df: DataFrame, vec: String): Option[Int] =
    df.select(size(col(vec)).as("__d")).filter(col("__d").isNotNull)
      .head(1).headOption.map(_.getInt(0))

  /** IVF (inverted-file) ANN top-k — the coarse-quantizer scale path.
    *
    * Coarse centroids: the `nlists` lowest-id vectors (deterministic
    * sampling; production swaps in [[kmeansAssign]]'s trained
    * centroids without changing
    * the plan shape — they are a plan-time constant either way, like a
    * broadcast dim table). Every vector is assigned to its nearest
    * centroid's inverted list by argmax cosine (ties → lowest centroid
    * id), computed as a pure projection against centroid literals —
    * map-only, whole-stage-codegen'd, no join or shuffle. Queries probe
    * the `nprobe` nearest lists and exact-cosine re-rank inside them,
    * cutting the scored fraction to ~nprobe/nlists of brute force.
    *
    * Two assignment strategies, switched on `nlists`:
    *   - ≤ `broadcastThreshold`: centroids collected and baked in as
    *     array literals — the whole assignment is one codegen'd
    *     projection, zero shuffles (the local-fast form; codegen cost
    *     grows linearly with nlists so it stops scaling past dozens);
    *   - above it: centroids stay a DataFrame, assignment is a
    *     broadcast cross join + per-vector max_by argmax — map-side
    *     partial combine collapses the nlists-way expansion before the
    *     single shuffle, so thousands of lists ship one row per vector.
    * Both compute bit-identical cosines (same expression shape), so the
    * probe/re-rank tail — and the result — is the same either way. */
  def ivfTopK(df: DataFrame, id: String, vec: String, nlists: Int, nprobe: Int,
              k: Int, queryPred: Column,
              broadcastThreshold: Int = 64): DataFrame = {
    // null vectors can't score; dropping them AT THE SCAN (a cheap
    // pushed isnotnull on the source column) is what lets the bucket
    // joins use `<=>` without admitting null-bucket rows. Zero-norm
    // vectors go too: cosine is undefined and ANSI mode aborts on the
    // 0 denominator.
    val base = df.filter(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"),
        asDouble(col(vec)).as("v"), queryPred.as("__isq"))
      .filter(norm(col("v")) > 0)
    val vn = norm(col("v"))
    // (assigned: vid,v,vn,__isq,list_id) and (probes: query rows ×
    // their top-nprobe list_ids), by either strategy
    val (assigned, q) =
      if (nlists <= broadcastThreshold) {
        val cents: Array[(Long, Seq[Double])] =
          base.filter(col("v").isNotNull).orderBy("vid").limit(nlists).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1)))
        if (cents.isEmpty) // empty input: keep the output shape, lazily
          return base.select(col("vid").as("query_id"), col("vid").as("cand_id"),
            lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
        literalAssignment(base, cents, nprobe)
      } else {
        val cents = base.filter(col("v").isNotNull).orderBy("vid").limit(nlists)
          .select(col("vid").as("cid"), col("v").as("cv"))
        broadcastAssignment(base, cents, nprobe)
      }
    rerankLists(assigned, q, k)
  }

  /** The literal-centroid assignment pair exposed for index-
    * persistence flows (build the inverted lists ONCE, probe many):
    * returns (assigned corpus rows: vid, v, vn?, __isq, list_id) and
    * (probe rows: query_id, qv, qn, list_id — one row per query ×
    * probed list). Same base projection and centroid choice as
    * [[ivfTopK]]'s small-nlists path, so a probe over the persisted
    * lists returns bit-identical results to the inline join. */
  def ivfAssignments(df: DataFrame, id: String, vec: String, nlists: Int,
                     nprobe: Int, queryPred: Column): (DataFrame, DataFrame) = {
    val base = df.filter(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"),
        asDouble(col(vec)).as("v"), queryPred.as("__isq"))
      .filter(norm(col("v")) > 0)
    val cents: Array[(Long, Seq[Double])] =
      base.filter(col("v").isNotNull).orderBy("vid").limit(nlists).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "ivfAssignments: no non-null vectors")
    literalAssignment(base, cents, nprobe)
  }

  /** Broadcast-join assignment for large list counts: centroids stay a
    * (cid, cv) DataFrame, assignment is a broadcast cross join +
    * max_by argmax — the nlists-way expansion collapses map-side into
    * one shuffled row per vector (first() carries the vector through
    * the aggregate, no join-back). Ties pick the lowest cid, same as
    * the literal path. */
  private def broadcastAssignment(base: DataFrame, centsDf: DataFrame,
                                  nprobe: Int): (DataFrame, DataFrame) = {
    val cents = centsDf.withColumn("cn", norm(col("cv")))
    val scored = base.withColumn("vn", norm(col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("cos", dot(col("v"), col("cv")) / (col("vn") * col("cn")))
    val assigned = scored.groupBy("vid").agg(
        max_by(col("cid"), struct(col("cos"), (-col("cid")).as("n")))
          .as("list_id"),
        first(col("v")).as("v"), first(col("vn")).as("vn"),
        first(col("__isq")).as("__isq"))
    val wp = Window.partitionBy("vid")
      .orderBy(col("cos").desc, col("cid").asc)
    val q = scored.filter(col("__isq"))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nprobe)
      .select(col("vid").as("query_id"), col("v").as("qv"),
        col("vn").as("qn"), col("cid").as("list_id"))
    (assigned, q)
  }

  /** Shared IVF tail: candidates stream by inverted list, probing
    * queries broadcast, exact cosine re-rank to top-k. */
  private def rerankLists(assigned: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val c = assigned.select(col("vid").as("cand_id"), col("v").as("cv"),
      norm(col("v")).as("cn"), col("list_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand_id").asc)
    // null-safe bucket equality, deliberately: plain `===` lets Catalyst
    // infer `isnotnull(list_id)` and push it below the assignment
    // projection, which substitutes the whole nlists-way scoring
    // expression into the filter — and the interpreted `transform` cast
    // inside it then re-evaluates per centroid reference (measured 3×
    // the entire query). list_id is never null for non-null vectors, so
    // `<=>` is semantically identical and keeps the hash join.
    c.join(broadcast(q), c("list_id") <=> q("list_id"))
      .drop(q("list_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos", "rank")
  }

  /** Literal-centroid assignment + probe lists, shared by ivfTopK's
    * small-nlists path and the k-means variant: centroids baked in as
    * array literals, the whole assignment one codegen'd projection. */
  private def literalAssignment(base: DataFrame, cents: Array[(Long, Seq[Double])],
                                nprobe: Int): (DataFrame, DataFrame) = {
    val vn = norm(col("v"))
    // norm(lit(centroid)) constant-folds at plan time
    def cosTo(cv: Seq[Double]): Column = {
      val c = typedLit(cv)
      dot(col("v"), c) / (vn * norm(c))
    }
    // struct ordering does the argmax; negated id makes ties pick the
    // lowest centroid id
    val scored = array(cents.toIndexedSeq.map { case (cid, cv) =>
      struct(cosTo(cv).as("cos"), lit(-cid).as("ncid"))
    }: _*)
    val assigned = base.withColumn("list_id",
      -array_max(scored).getField("ncid"))
    // probe lists: top-nprobe centroids by (cos desc, cid asc)
    val probes = slice(reverse(array_sort(scored)), 1, nprobe)
    val q = base.filter(col("__isq"))
      .select(col("vid").as("query_id"), col("v").as("qv"), vn.as("qn"),
        explode(transform(probes, s => -s.getField("ncid"))).as("list_id"))
    (assigned, q)
  }

  /** SemDeDup — semantic (embedding-space) deduplication: coarse-
    * cluster every vector, then drop any vector that has a LOWER-id
    * near-duplicate (cosine ≥ tau) in its own cluster. The cluster
    * stage is what makes semantic dedup tractable at corpus scale:
    * candidate pairs exist only WITHIN a cluster, so the quadratic
    * pair cost is bounded per-list instead of per-corpus (nlists is
    * the skew/size dial; production uses thousands of lists and this
    * plan shape is unchanged). Centroids here are the deterministic
    * lowest-id vectors, same as [[ivfTopK]] — swap in
    * [[ivfTopKKmeans]]'s fitted centers for density-placed lists.
    *
    * Plan shape: map-only literal assignment (no shuffle), one
    * repartition on list_id shared by BOTH sides of the within-list
    * self-join (ReuseExchange materializes the scan+assignment once),
    * pair filter cos ≥ tau, count dominators per higher id, left
    * join-back on narrow (vid, list_id) rows — vectors never shuffle
    * twice. Returns (vec, list_id, n_dom, keep). */
  def semDedup(df: DataFrame, id: String, vec: String, nlists: Int,
               tau: Double): DataFrame = {
    // null/zero-norm vectors are excluded outright (not kept with
    // keep=true): they cannot participate in cosine semantics, and a
    // zero norm in the assignment denominator aborts under ANSI mode
    val base = df.filter(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"),
        asDouble(col(vec)).as("v"), lit(false).as("__isq"))
      .filter(norm(col("v")) > 0)
    val cents: Array[(Long, Seq[Double])] =
      base.orderBy("vid").limit(nlists).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    if (cents.isEmpty)
      return base.select(col("vid").as("vec"), col("vid").as("list_id"),
        lit(0L).as("n_dom"), lit(true).as("keep")).limit(0)
    val (assigned, _) = literalAssignment(base, cents, nprobe = 1)
    val x = assigned
      .select(col("vid"), col("v"), norm(col("v")).as("n"), col("list_id"))
      .repartition(col("list_id"))
    val a = x.select(col("vid").as("a_id"), col("v").as("av"),
      col("n").as("an"), col("list_id"))
    val b = x.select(col("vid").as("b_id"), col("v").as("bv"),
      col("n").as("bn"), col("list_id"))
    // `<=>` for the same reason as rerankLists: `===` infers an
    // isnotnull(list_id) filter that substitutes the whole literal
    // scoring expression below the repartition. Null/zero-norm rows
    // were already excluded at `base`, so every row here has a list_id.
    val dom = a
      .join(b, a("list_id") <=> b("list_id"))
      .drop(b("list_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cos") >= tau)
      .groupBy("b_id").agg(count(lit(1)).as("n_dom"))
    x.select(col("vid"), col("list_id"))
      .join(dom, col("vid") === col("b_id"), "left")
      .select(col("vid").as("vec"), col("list_id"),
        coalesce(col("n_dom"), lit(0L)).as("n_dom"),
        col("n_dom").isNull.as("keep"))
  }

  /** IVF top-k with k-means coarse centroids — the production
    * quantizer (`ivfTopK`'s lowest-id centroids are a deterministic
    * stand-in; Lloyd's iterations place lists where the density is,
    * which is what recall at a fixed nprobe/nlists ratio buys).
    * Centroids come from spark.ml KMeans (seeded; deterministic for a
    * fixed input partitioning) fitted on `trainFraction` of the
    * vectors — at 100 TB the quantizer trains on a sample, never the
    * corpus. Assignment/probe/re-rank reuse the ivfTopK machinery,
    * including its strategy switch: past `broadcastThreshold` lists
    * the centers feed the broadcast cross-join + max_by path instead
    * of a literal projection (which stops codegen-scaling past dozens
    * of lists). */
  def ivfTopKKmeans(df: DataFrame, id: String, vec: String, nlists: Int,
                    nprobe: Int, k: Int, queryPred: Column,
                    maxIter: Int = 10, seed: Long = 42L,
                    trainFraction: Double = 1.0,
                    broadcastThreshold: Int = 64): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = df.filter(col(vec).isNotNull) // see ivfTopK: enables `<=>`
      .select(col(id).cast("long").as("vid"),
        asDouble(col(vec)).as("v"), queryPred.as("__isq"))
      .filter(norm(col("v")) > 0) // zero-norm: undefined cosine, ANSI 0-div
    val train0 = base.filter(col("v").isNotNull)
    val train = if (trainFraction < 1.0) train0.sample(trainFraction, seed)
                else train0
    val fitInput = train.select(array_to_vector(col("v")).as("fv"))
    if (fitInput.isEmpty)
      return base.select(col("vid").as("query_id"), col("vid").as("cand_id"),
        lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
    val model = new KMeans().setK(nlists).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("fv").fit(fitInput)
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq)
    }
    val (assigned, q) =
      if (cents.length <= broadcastThreshold) literalAssignment(base, cents, nprobe)
      else {
        val spark = df.sparkSession
        import spark.implicits._
        broadcastAssignment(base,
          cents.toSeq.toDF("cid", "cv").select(col("cid"),
            col("cv").cast("array<double>").as("cv")), nprobe)
      }
    rerankLists(assigned, q, k)
  }

  /** ANN top-k over multiple LSH tables: candidates are the distinct
    * union of same-(table, bucket) collisions, re-ranked by exact
    * cosine. Recall grows with `tables` at linear candidate-join cost —
    * the 100 TB path with a recall dial (brute force stays the
    * correctness oracle). Buckets are computed INLINE on the scan
    * (they derive 1:1 from the row) — no separate bucket frame, no
    * join-back on the id. */
  def annTopKMulti(df: DataFrame, id: String, vec: String, planes: Int,
                   tables: Int, k: Int, queryPred: Column): DataFrame =
    vecDims(df, vec) match {
      case None =>
        df.select(col(id).as("query_id"), col(id).as("cand_id"),
          lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
      case Some(dims) =>
        val perTable = (0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            bucketCol(col("vq"), dims, planes, p => t * planes + p).as("bucket"))
        }
        val frame = df.select(col(id).as("vid"), asDouble(col(vec)).as("v"),
            queryPred.as("__isq"))
          .withColumn("__n", norm(col("v")))
          .filter(col("__n") > 0) // zero-norm: undefined cosine, ANSI 0-div
          .withColumn("vq", quantized(col("v")))
          .select(col("vid"), col("v"), col("__isq"), col("__n"),
            explode(array(perTable: _*)).as("tb"))
          .select(col("vid"), col("v"), col("__isq"), col("__n"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val q = frame.filter(col("__isq"))
          .select(col("vid").as("query_id"), col("v").as("qv"),
            col("__n").as("qn"), col("tbl"), col("bucket"))
        val c = frame.select(col("vid").as("cand_id"), col("v").as("cv"),
          col("__n").as("cn"), col("tbl"), col("bucket"))
        val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
          .filter(col("query_id") =!= col("cand_id"))
          .select("query_id", "qv", "qn", "cand_id", "cv", "cn").distinct()
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("cand_id").asc)
        cand.withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "cand_id", "cos", "rank")
    }

  /** ANN top-k via LSH buckets: candidates share the query's bucket,
    * then exact cosine re-rank. Trades recall for a linear candidate
    * join — the 100 TB path (brute force is the correctness oracle).
    * `queryPred` is evaluated against the input columns (e.g.
    * `col("vec_id") < 10`). Bucket computed inline on the scan — no
    * separate bucket frame, no join-back on the id. */
  def annTopK(df: DataFrame, id: String, vec: String, planes: Int,
              k: Int, queryPred: Column): DataFrame =
    vecDims(df, vec) match {
      case None =>
        df.select(col(id).as("query_id"), col(id).as("cand_id"),
          lit(0.0).as("cos"), lit(0).as("rank")).limit(0)
      case Some(dims) =>
        val frame = df.filter(col(vec).isNotNull) // see ivfTopK: enables `<=>`
          .select(col(id).as("vid"), asDouble(col(vec)).as("v"),
            queryPred.as("__isq"))
          .withColumn("__n", norm(col("v")))
          .filter(col("__n") > 0) // zero-norm: undefined cosine, ANSI 0-div
          // alias the quantized copy so the per-plane references share
          // one evaluation (inlining it would re-run the transform
          // once per plane)
          .withColumn("vq", quantized(col("v")))
          .withColumn("bucket", bucketCol(col("vq"), dims, planes, p => p))
          .drop("vq")
        val q = frame.filter(col("__isq"))
          .select(col("vid").as("query_id"), col("v").as("qv"),
            col("__n").as("qn"), col("bucket"))
        val c = frame.select(col("vid").as("cand_id"), col("v").as("cv"),
          col("__n").as("cn"), col("bucket"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("cand_id").asc)
        // `<=>`: see rerankLists — `===` would re-evaluate the inlined
        // bucket expression inside an inferred isnotnull filter
        c.join(broadcast(q), c("bucket") <=> q("bucket"))
          .drop(q("bucket"))
          .filter(col("query_id") =!= col("cand_id"))
          .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "cand_id", "cos", "rank")
    }

  /** Dominant principal direction by fixed-point power iteration, plus
    * every vector's projection onto it — the "what axis carries the
    * variance, and which examples sit at its extremes" telemetry behind
    * embedding whitening / outlier triage. ALL arithmetic is integer:
    * components quantize to micro-units, the (uncentered) second-moment
    * matrix is an exact integer sum, each of the 3 unrolled iterations
    * is an integer matvec followed by a truncating-div rescale (Spark
    * `div` and DuckDB `//` both truncate toward zero, so negative
    * components agree), and the projection is a sum of exact products —
    * the whole thing replays bit-for-bit in the oracle. Sign is pinned
    * by the deterministic all-ones start.
    *
    * Scale shape: the moment matrix is ONE `gram_fx` aggregate pass —
    * a mergeable d²-long buffer per partition (no N·d² exploded rows;
    * the old double-explode spelling cost 5.2 s at sf0.1, the
    * aggregate ~1 s for the same integers); every iteration then runs
    * on d-sized tables (broadcast matvec against the d²-row matrix);
    * the final projection is one broadcast join against the exploded
    * scan. Nothing data-sized ever shuffles — the agg ships
    * O(partitions·d²) bytes.
    * Overflow headroom: |Σ v_i·v_j| ≤ N·1e12 micro² keeps the partial
    * sums in BIGINT up to ~9M vectors; past that, rescale the unit (the
    * comment contract, not a silent cap). */
  /** Johnson–Lindenstrauss random projection with an ORACLED
    * distortion report: project micro-quantized embeddings onto k=16
    * deterministic ±1 directions (sign = parity of the shared 60-bit
    * content hash of "i_j" — no RNG, both engines regenerate the same
    * matrix), then for every consecutive-id vector pair report the
    * exact integer squared distance before and after plus the
    * distortion ratio in micro-units. With ±1 entries
    * E[(y_a−y_b)²_j] = ‖a−b‖² per output dim, so distortion_micro
    * concentrates at 1e6·k/(k) — the JL guarantee as pinned data,
    * the dimensionality-reduction analog of q_hll_err/q_cms_err.
    *
    * Scale shape: the sign matrix is a dims×k frame (1024 rows)
    * hashed ONCE and broadcast — the projection is one broadcast join
    * + a (vec, j) map-combined sum; nothing rescans or reshuffles the
    * corpus per output dimension. PCA ([[pcaProject]]) needs the d²
    * Gram pass and an iteration; JL needs neither, which is why it is
    * the 100 TB first choice when any 16 directions will do. */
  def jlDistortion(emb: DataFrame, k: Int = 16): DataFrame = {
    import graft.ops.TextOps
    val m = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"),
        expr("cast(round(cast(v as double) * 1e6) as bigint)").as("vf"))
    val signs = m.select(col("i")).distinct()
      .select(col("i"), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("sgn", when(TextOps.h64(concat(col("i").cast("string"),
        lit("_"), col("j").cast("string"))) % 2 === 0, 1L).otherwise(-1L))
    val proj = m.join(broadcast(signs), Seq("i"))
      .groupBy("vec_id", "j").agg(sum(col("sgn") * col("vf")).as("yj"))
    val d2o = m.select(col("vec_id").as("va"), col("i"), col("vf").as("fa"))
      .join(m.select((col("vec_id") - 1).as("va"), col("vec_id").as("vb"),
        col("i"), col("vf").as("fb")), Seq("va", "i"))
      .groupBy("va", "vb")
      .agg(sum((col("fa") - col("fb")) * (col("fa") - col("fb")))
        .as("d2_orig"))
    val d2p = proj.select(col("vec_id").as("va"), col("j"), col("yj").as("ya"))
      .join(proj.select((col("vec_id") - 1).as("va"), col("j"),
        col("yj").as("yb")), Seq("va", "j"))
      .groupBy("va")
      .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb")))
        .as("d2_proj"))
    d2o.join(d2p, Seq("va"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        col("d2_orig"), col("d2_proj"),
        when(col("d2_orig") > 0, expr(
          s"d2_proj div greatest($k * (d2_orig div 1000000), 1)"))
          .as("distortion_micro"))
      .orderBy("vec_a")
  }

  def pcaProject(emb: DataFrame): DataFrame = {
    val fix = emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        round(col("x") * lit(1e6), 0).cast("long").as("vi"))
    // second-moment matrix: one mergeable gram_fx pass (identical
    // integers to the old (i, j, vi·vj) explode+agg), unflattened to
    // d² (i, j, sij) rows; materialized once — each of the 3 matvecs
    // (and the derived start vector) reuses it
    val gram = emb
      .select(call_function("vec_fixp",
        col("embedding").cast("array<double>")).as("vfx"))
      .agg(call_function("gram_fx", col("vfx")).as("g"))
      .select(col("g"), sqrt(size(col("g")).cast("double")).cast("int").as("d"))
    val cov = gram
      .select(col("d"), posexplode(col("g")).as(Seq("idx", "sij")))
      .select(expr("idx div d").cast("int").as("i"),
        pmod(col("idx"), col("d")).cast("int").as("j"),
        expr("sij div 1000000").as("cq"))
      .localCheckpoint(true)
    def matvec(w: DataFrame): DataFrame =
      cov.join(broadcast(w.select(col("i").as("j"), col("wv"))), Seq("j"))
        .groupBy("i").agg(sum(expr("cq * wv")).as("wp"))
    // rescale via a global window over the d-row vector (d is tiny by
    // construction) — an agg + crossJoin here would duplicate the wp
    // subtree per iteration and double the plan each step
    def renorm(wp: DataFrame): DataFrame =
      wp.withColumn("mx",
          max(abs(col("wp"))).over(Window.partitionBy(lit(1))))
        .select(col("i"),
          expr("wp div greatest(mx div 1000000, 1L)").as("wv"))
    // all-ones start over every dimension PRESENT IN THE DATA (the
    // oracle's implicit start) — a fixed-width range would silently
    // truncate the iteration for embeddings wider than the constant
    val w0 = cov.select("i").distinct().withColumn("wv", lit(1000000L))
    val w3 = (1 to 3).foldLeft(w0)((w, _) => renorm(matvec(w)))
    fix.join(broadcast(w3), Seq("i"))
      .groupBy("vec_id", "label")
      .agg(sum(expr("vi * wv")).as("proj_fx"))
      .select("vec_id", "label", "proj_fx")
      .orderBy("vec_id")
  }
}
