package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Arithmetic contract: cosine is computed as a sequential left fold
  * in IEEE double (cast array<float> → array<double> first) — the
  * DuckDB twin (list_sum ∘ list_transform ∘ list_zip) folds in the
  * same order, and sqrt/divide are correctly rounded, so similarity
  * values are bit-identical across engines (verified empirically).
  *
  * Scale design: the query set is broadcast (small side); brute force
  * is map-side O(Q·N) — the exactness baseline. The LSH variant
  * prunes candidates to hyperplane-bucket collisions, turning the
  * cross product into a bucket join; recall is tunable via number of
  * hyperplane tables.
  */
object AnnOps {

  /** left-fold double dot product of two array<double> columns
    * (HOF reference formulation; the hot path uses [[cosine]]) */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** dimensionality of an array-vector column, read from one row — a
    * bounded driver fetch (the pq/ivfpq dim-derivation discipline) */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** native single-pass cosine (bit-identical to the left-fold HOF
    * and the DuckDB oracle twin) */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine_sim(a, b)

  /** brute-force exact top-k cosine neighbors for each query vector */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    bruteTopKImpl(queries, corpus, k, withLabels = false)

  /** shared brute-force shape: broadcast-query cross join, exact
    * cosine, window rank. `withLabels = true` carries the label
    * columns and keeps only DIFFERENT-label pairs — the ONE
    * implementation behind [[bruteForceTopK]] and [[hardNegatives]],
    * so a tie-break or dedup fix can never diverge between them. */
  private def bruteTopKImpl(queries: DataFrame, corpus: DataFrame, k: Int,
                            withLabels: Boolean): DataFrame = {
    def side(df: DataFrame, id: String, lbl: String, emb: String) = {
      val cols = Seq(col("vec_id").as(id)) ++
        (if (withLabels) Seq(col("label").as(lbl)) else Nil) :+
        col("embedding").cast("array<double>").as(emb)
      df.select(cols: _*)
    }
    val q = side(queries, "qid", "qlabel", "qe")
    val c = side(corpus, "nid", "nlabel", "ne")
    val base = c.crossJoin(broadcast(q)).filter(col("qid") =!= col("nid"))
    val filtered =
      if (withLabels) base.filter(col("qlabel") =!= col("nlabel")) else base
    val outCols = Seq(col("qid")) ++
      (if (withLabels) Seq(col("qlabel")) else Nil) ++ Seq(col("nid")) ++
      (if (withLabels) Seq(col("nlabel")) else Nil) :+
      cosine(col("qe"), col("ne")).as("sim")
    rankTopK(filtered.select(outCols: _*), k)
  }

  /** the shared window rank of every top-k shape here: per-query
    * descending similarity, ascending-id tie-break */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Hard-NEGATIVE mining for contrastive training: per query, the
    * top-k most-similar corpus vectors carrying a DIFFERENT label —
    * the near-boundary negatives a contrastive/metric-learning run
    * pairs against its positives (the closer the negative, the more
    * gradient it carries). Same broadcast-query map-side shape as
    * [[bruteForceTopK]]; the label inequality prunes inside the scan
    * projection, so output stays k rows per query. The exactness
    * baseline — at corpus scale the LSH candidate path supplies the
    * same pairs with the identical filter. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    bruteTopKImpl(queries, corpus, k, withLabels = true)

  /** [[hardNegatives]] on the LSH candidate path — the corpus-scale
    * configuration (xxh64 production kernel): negatives come from
    * hyperplane-bucket collisions instead of the full cross product,
    * with the identical different-label filter and exact-cosine
    * re-rank. Recall follows the lshTopK curve; misses are the
    * FARTHEST negatives, which carry the least gradient — the benign
    * direction for this miner. */
  def hardNegativesLsh(queries: DataFrame, corpus: DataFrame, planes: Int,
                       k: Int, tables: Int = 8): DataFrame =
    lshTopKImpl(queries, corpus, planes, k, tables,
      graft.functions.VectorExprs.hyperplane_buckets, withLabels = true)

  /** cosine-threshold RANGE search: every corpus neighbor with
    * sim ≥ tau per query — the radius primitive (recall-set
    * construction, embedding filtering at a similarity bar, the
    * query-side twin of embedding near-dup). Same broadcast-query
    * map-side shape as [[bruteForceTopK]]: O(Q·N), the corpus never
    * shuffles, and the threshold filter runs inside the scan-side
    * projection — output is proportional to matches. The filter
    * decision is safe to cross-check against an oracle because the
    * native cosine is bit-identical across engines. */
  def rangeSearch(queries: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    val c = corpus.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("ne"))
    c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("sim"))
      .filter(col("sim") >= lit(tau))
  }

  /** Semantic-contamination report (the embedding twin of n-gram
    * decontamination — paraphrased benchmark leakage shares no
    * verbatim n-grams): per eval vector the MAX cosine against the
    * train corpus, bucketed at the given DESCENDING thresholds.
    * Scale shape: the eval side is tiny by construction and
    * BROADCASTS; the train corpus scans map-side with per-partition
    * partial max — the one exchange carries |eval| rows. This is the
    * brute exactness baseline; at corpus scale LSH candidates
    * ([[lshTopKMd5]]) bound the scan with the identical verdict
    * column. Expects (vec_id, embedding) on both frames. */
  def semanticContam(evalSet: DataFrame, train: DataFrame,
                     tCritical: Double, tHigh: Double,
                     tModerate: Double): DataFrame = {
    require(tCritical >= tHigh && tHigh >= tModerate,
      s"thresholds must descend: $tCritical >= $tHigh >= $tModerate")
    val q = evalSet.select(col("vec_id").as("eval_id"),
      col("embedding").cast("array<double>").as("qe"))
    val c = train.select(col("embedding").cast("array<double>").as("ne"))
    c.crossJoin(broadcast(q))
      .select(col("eval_id"), cosine(col("qe"), col("ne")).as("sim"))
      .groupBy(col("eval_id")).agg(max(col("sim")).as("max_sim"))
      .select(col("eval_id"), col("max_sim"),
        when(col("max_sim") >= tCritical, "critical")
          .when(col("max_sim") >= tHigh, "high")
          .when(col("max_sim") >= tModerate, "moderate")
          .otherwise("clean").as("severity"))
  }

  /** IVF (inverted-file) ANN index: partition the corpus into `c`
    * centroid cells (deterministic Lloyd iterations, cosine metric),
    * probe the `nprobe` nearest cells per query, exact re-rank inside.
    *
    * The index-build collects c×dim floats to the driver per
    * iteration — at 1e9+ rows you train on a sample (same as any
    * IVF/faiss deployment); assignment and search stay distributed.
    * Scan fraction ≈ nprobe/c, the coarse recall/cost dial.
    */
  def ivfCentroids(corpus: DataFrame, c: Int, iters: Int,
                   trainFraction: Double = 1.0): Array[Seq[Double]] = {
    // at 1e9+ rows train on a deterministic hash-sample (standard
    // IVF practice — the index quality needs the density shape, not
    // every point); assignment and search always see the full corpus
    val training =
      if (trainFraction >= 1.0) corpus
      else ScaleOps.hashSample(corpus, col("vec_id"),
        keepNumerator = math.max(1, (trainFraction * 1000).toInt), denominator = 1000)
    val base = training.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // deterministic init: the c lowest vec_ids
    var centroids: Array[Seq[Double]] = base.orderBy(col("vec_id")).limit(c)
      .collect().map(_.getSeq[Double](1))
    var it = 0
    while (it < iters) {
      val assigned = base.withColumn("cid", nearestCentroid(col("v"), centroids))
      // decimal-exact mean: centroid values (and therefore cell
      // assignments) are identical under any partitioning
      val means = assigned
        .select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(map_from_arrays(collect_list(col("pos")), collect_list(col("m"))).as("dims"))
        .collect()
        .map { r =>
          val dims = r.getMap[Int, Double](1)
          r.getInt(0) -> (0 until dims.size).map(dims(_)).toSeq
        }
        .toMap
      // a cell that captured no vectors keeps its previous centroid, so
      // the array stays exactly c entries (probe ids never go phantom)
      centroids = Array.tabulate(c)(cid => means.getOrElse(cid, centroids(cid)))
      it += 1
    }
    centroids
  }

  /** PCA-accelerated top-k: score candidates by L2 in the k'-dim PCA
    * space (a `shortlist ≫ k` cut), then rerank the shortlist with
    * exact full-dim cosine — the faiss PCAMatrix+refine composition,
    * and the third accelerator next to LSH and IVF(-PQ). The scan
    * side evaluates one project_table kernel + a shortlist window;
    * the corpus never shuffles (broadcast query side, the
    * bruteForceTopK shape) and the exact rerank touches only
    * Q·shortlist rows. PCA preserves the dominant variance
    * directions, so the reduced-space L2 ordering recalls most true
    * neighbors at a fraction of the arithmetic — recall is
    * spec-pinned vs the exact baseline.
    */
  def pcaTopK(queries: DataFrame, corpus: DataFrame, kDim: Int, k: Int,
              shortlist: Int, trainFraction: Double = 1.0): DataFrame = {
    // unit-normalize BEFORE the basis/projection: on the sphere,
    // full-dim L2 is monotone in cosine, so reduced-space L2 ranks
    // like the cosine the rerank scores — without this the shortlist
    // chases raw magnitude and recall collapses
    def normed(df: DataFrame): DataFrame = {
      val v = col("embedding").cast("array<double>")
      val nrm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
      df.withColumn("__nrme", transform(v, x => x / nrm))
    }
    // derive the input dimensionality from the data (r7 verdict #2:
    // a hardcoded d=64 silently mis-sizes the moments buffer on any
    // non-64-dim corpus; pq/ivfpq already derive dim this way)
    val d = vecDim(corpus, "embedding")
    val (mean, basis, _) = pcaBasis(normed(corpus), "__nrme", d = d,
      k = kDim, trainFraction = trainFraction)
    val cp = pcaProject(normed(corpus), "__nrme", mean, basis, "cproj")
      .select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("ne"), col("cproj"))
    val qp = pcaProject(normed(queries), "__nrme", mean, basis, "qproj")
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"), col("qproj"))
    val cand = cp.crossJoin(broadcast(qp))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("qe"), col("ne"),
        l2sq(col("qproj"), col("cproj")).as("pd"))
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("pd").asc, col("nid").asc)
    val short = cand.withColumn("prk", row_number().over(wShort))
      .filter(col("prk") <= shortlist)
    val wFinal = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    short.select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("sim"))
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= k)
  }

  /** PCA basis of an embedding corpus — the dimension-reduction /
    * whitening front of a vector pipeline (faiss's PCAMatrix role:
    * shrink 64→k dims before IVF/PQ, or decorrelate before
    * quantization). Training statistics come from ONE pass of
    * [[graft.functions.CovAgg.vec_moments]] — a d²/2 map-side buffer
    * per partition, never an exploded (i,j) amplification — on a
    * deterministic hash-sample (the ivfCentroids train-on-sample
    * discipline). The d×d eigenproblem is driver-side cyclic Jacobi:
    * deterministic sweep order, no RNG, no LAPACK.
    *
    * Returns (mean, basis rows (k×d, orthonormal, descending
    * eigenvalue), eigenvalues (k)).
    */
  def pcaBasis(corpus: DataFrame, vecCol: String, d: Int, k: Int,
               trainFraction: Double = 1.0)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(k <= d, s"k=$k must be <= d=$d")
    val training =
      if (trainFraction >= 1.0) corpus
      else ScaleOps.hashSample(corpus, col("vec_id"),
        keepNumerator = math.max(1, (trainFraction * 1000).toInt), denominator = 1000)
    val row = training
      .select(graft.functions.CovAgg.vec_moments(
        col(vecCol).cast("array<double>"), d).as("m"))
      .select(col("m.n"), col("m.sum"), col("m.tri")).head()
    val n = row.getLong(0).toDouble
    require(n >= 2, s"PCA needs >= 2 training vectors, got ${n.toLong}")
    val sum = row.getSeq[Double](1).toArray
    val tri = row.getSeq[Double](2).toArray
    val mean = sum.map(_ / n)
    // covariance C = M/n − μμᵀ from the upper triangle
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = tri(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    // sort eigenpairs by descending eigenvalue (stable: index tiebreak)
    val order = values.indices.sortBy(idx => (-values(idx), idx))
    val basis = order.take(k).map(idx => vectors.map(_(idx))).toArray
    (mean, basis, order.take(k).map(values(_)).toArray)
  }

  /** cyclic Jacobi eigendecomposition of a symmetric matrix:
    * deterministic sweeps over the upper triangle until off-diagonal
    * mass vanishes. Returns (eigenvalues, eigenvector COLUMNS). */
  private def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    // convergence thresholds scale with the matrix: quadratic
    // convergence bottoms out near machine epsilon RELATIVE to the
    // Frobenius norm, so for unnormalized large-magnitude covariance
    // (pcaBasis runs on raw embeddings) an absolute cutoff would
    // reject a legitimately converged decomposition
    val frobSq = {
      var acc = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { acc += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      acc
    }
    val tol = 1e-20 * math.max(1.0, frobSq)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // sign(0) must be 1 (Numerical Recipes): for equal
            // diagonal entries theta is 0 and signum(0)=0 would make
            // the rotation the identity — a duplicated embedding
            // dimension (cov block [[v,v],[v,v]]) then never
            // annihilates and the sweep cap exits with wrong vectors
            val sgn = if (theta >= 0.0) 1.0 else -1.0
            val tt = sgn /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tt * tt + 1.0)
            val s = tt * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var x = 0
      while (x < d - 1) {
        var y = x + 1
        while (y < d) { off += a(x)(y) * a(x)(y); y += 1 }
        x += 1
      }
      sweep += 1
    }
    // never return silently-wrong eigenpairs: the sweep cap is a
    // safety net, not an accepted exit — cyclic Jacobi converges
    // quadratically, so d=64 finishes in ~6 sweeps; tripping this
    // means the input wasn't symmetric-real or the rotation broke
    require(off <= 1e-12 * math.max(1.0, frobSq),
      s"Jacobi eigensolver failed to converge: off-diagonal mass $off " +
        s"(frobSq $frobSq) after $sweep sweeps (d=$d)")
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** project every vector onto the PCA basis, mean-centered — one
    * native kernel pass, basis as a codegen reference object (plan
    * size independent of k·d) */
  def pcaProject(df: DataFrame, vecCol: String, mean: Array[Double],
                 basis: Array[Array[Double]], outCol: String): DataFrame = {
    val offsets = basis.map(row =>
      row.zip(mean).map { case (b, m) => b * m }.sum).toSeq
    df.withColumn(outCol, graft.functions.VectorExprs.project_table(
      col(vecCol).cast("array<double>"),
      basis.map(_.toSeq).toSeq, offsets))
  }

  /** whitening projection: components scaled to unit variance
    * (row/√λ folded into the basis — still ONE kernel pass). The
    * standard pre-quantization decorrelation; eigenvalues below
    * `floor` are clamped so near-null directions don't explode. */
  def pcaWhiten(df: DataFrame, vecCol: String, mean: Array[Double],
                basis: Array[Array[Double]], eigenvalues: Array[Double],
                outCol: String, floor: Double = 1e-9): DataFrame = {
    val scaled = basis.zip(eigenvalues).map { case (row, ev) =>
      val s = 1.0 / math.sqrt(math.max(ev, floor))
      row.map(_ * s)
    }
    pcaProject(df, vecCol, mean, scaled, outCol)
  }

  /** argmax-cosine cell id against the broadcast centroid table — a
    * single native expression whatever c is (the inlined c-wide
    * expression-array formulation grows the plan O(c) and breaks
    * codegen around c≈hundreds; spec-pinned at c=256) */
  def nearestCentroid(vec: Column, centroids: Array[Seq[Double]]): Column =
    graft.functions.VectorExprs.nearest_centroid(vec, centroids.toSeq)

  /** K-means-style corpus clustering for data-mix curation (topic
    * balancing, cluster-based sampling, per-topic quality review):
    * the deterministic IVF build doubles as the clusterer, then one
    * map-side native argmax assigns every vector and a plain
    * aggregate yields per-cluster membership stats. At corpus scale
    * the build trains on a hash-sample (trainFraction) while
    * assignment always sees every vector. */
  def clusterStats(corpus: DataFrame, c: Int, iters: Int,
                   trainFraction: Double = 1.0): DataFrame = {
    val centroids = ivfCentroids(corpus, c, iters, trainFraction)
    corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v"))
      .withColumn("cid", nearestCentroid(col("__v"), centroids))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("rep_id"))
  }

  /** Cluster-balanced sampling — the data-mix curation step after
    * clustering: cap every cluster at `cap` members, chosen by a
    * deterministic md5 rank (seeded content coin, so the sample is
    * replay/repartition-stable like q_sample_stratified). Equalizes
    * topic mass: a dominant cluster contributes `cap` docs, a rare
    * one contributes all of itself. Per-cluster window only — each
    * cluster ranks its own members in parallel. Returns the KEPT
    * rows (id, cid, rk). */
  def clusterCappedSample(corpus: DataFrame, c: Int, iters: Int,
                          cap: Int, seed: String): DataFrame = {
    val centroids = ivfCentroids(corpus, c, iters)
    val assigned = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v"))
      .withColumn("cid", nearestCentroid(col("__v"), centroids))
    val w = Window.partitionBy(col("cid"))
      .orderBy(md5(concat(lit(seed + ":"), col("vec_id").cast("string"))),
        col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("vec_id"), col("cid"), col("rk"))
  }

  /** IVF search: assign corpus cells once, probe nprobe cells per
    * query, exact cosine top-k within the probed cells. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, c: Int, nprobe: Int,
              k: Int, iters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(corpus, c, iters)
    val cells = corpus.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("ne"))
      .withColumn("cid", nearestCentroid(col("ne"), centroids))
    val probes = queries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("sims",
        graft.functions.VectorExprs.cosine_table(col("qe"), centroids.toSeq))
      // deterministic probe order: sim DESC, then LOWER cell id on ties
      // (a comparator sort — reverse(array_sort) would break ties by
      // higher id, which a SQL oracle's ORDER BY sim DESC, cid can't say)
      .withColumn("probe_cids", slice(array_sort(zip_with(
        col("sims"), sequence(lit(0), lit(centroids.length - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .otherwise(l.getField("i") - r.getField("i"))), 1, nprobe))
      .select(col("qid"), col("qe"), explode(col("probe_cids")).as("p"))
      .select(col("qid"), col("qe"), col("p.i").as("cid"))
    val cand = cells.join(broadcast(probes), "cid")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF nprobe TUNING SWEEP: the recall-vs-scan table that picks the
    * probe count before a deployment trusts the index (the
    * q_ann_recall discipline applied across the dial instead of at
    * one point). ONE index build and ONE ranked probe list per query;
    * each grid value selects its rank PREFIX from that list — never
    * one search per grid point — then the exact re-rank runs per
    * (nprobe, query) and recall@k is measured against the exact
    * top-k. Output one row per nprobe: hits, truth size, recall,
    * scan_fraction = nprobe/c (the cost axis of the dial).
    *
    * Scale shape: this is a TUNING run over a bounded query sample
    * (the sweep multiplies candidate work by Σ nprobe/c ≤ |grid|);
    * windows key on (nprobe, qid) — bounded partitions, never
    * single-partition. */
  def ivfSweep(queries: DataFrame, corpus: DataFrame, c: Int,
               nprobes: Seq[Int], k: Int, iters: Int = 1): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(n => n >= 1 && n <= c),
      s"nprobes must be within [1, $c], got $nprobes")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, c, iters)
    val cells = corpus.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("ne"))
      .withColumn("cid", nearestCentroid(col("ne"), centroids))
    // the full probe rank list once per query (the ivfTopK comparator
    // sort — sim DESC, lower cell id on ties), position = cell rank
    val ranked = queries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("sims",
        graft.functions.VectorExprs.cosine_table(col("qe"), centroids.toSeq))
      .withColumn("pr", array_sort(zip_with(
        col("sims"), sequence(lit(0), lit(centroids.length - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .otherwise(l.getField("i") - r.getField("i"))))
      .select(col("qid"), col("qe"), posexplode(col("pr")))
      .select(col("qid"), col("qe"), (col("pos") + 1).as("cell_rank"),
        col("col.i").as("cid"))
    val grid = nprobes.toDF("np")
    val probes = ranked.join(broadcast(grid), col("cell_rank") <= col("np"))
      .select(col("np"), col("qid"), col("qe"), col("cid"))
    val cand = cells.join(broadcast(probes), "cid")
      .filter(col("qid") =!= col("nid"))
      .select(col("np"), col("qid"), col("nid"),
        cosine(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy(col("np"), col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val topk = cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("np"), col("qid"), col("nid"), lit(1).as("__hit"))
    val truth = bruteForceTopK(queries, corpus, k)
      .select(col("qid"), col("nid")).crossJoin(broadcast(grid))
    truth.join(topk, Seq("np", "qid", "nid"), "left")
      .groupBy(col("np"))
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"),
        count(lit(1)).as("n_true"))
      .select(col("np").as("nprobe"), col("hits"), col("n_true"),
        (col("hits").cast("double") / col("n_true").cast("double"))
          .as("recall"),
        (col("np").cast("double") / lit(c.toDouble)).as("scan_fraction"))
  }

  /** squared-L2 left fold (HOF reference formulation; the hot paths
    * use the native [[graft.functions.VectorExprs.l2_sq]] — values
    * bit-identical, parity property-tested) */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Deterministic Lloyd k-means under squared L2 training ALL m PQ
    * codebooks in ONE job per iteration (the subspaces are
    * independent, so training them in separate jobs just multiplies
    * fixed job overhead — measured 2× on the bench). Same discipline
    * as [[ivfCentroids]]: lowest-id init, decimal-exact means,
    * empty-cell carry-forward, first-min tie rule. Bounded collects:
    * m×ksub×subDim doubles per iteration.
    *
    * Init is the bounded TakeOrderedAndProject shape: the ksub
    * lowest-vec_id vectors seed every subspace (their m slices) —
    * value-identical to a per-subspace row_number window over `subs`
    * (every vec_id appears in each subspace) but O(ksub) driver work
    * instead of m tasks each sorting the full corpus (r3 verdict #1).
    *
    * `base` rows: (vec_id, v). `subs` rows: (vec_id, s, sub) — one
    * row per vector per subspace, pre-persisted by the caller. */
  private def kmeansL2Multi(base: DataFrame, subs: DataFrame, m: Int,
                            subDim: Int, ksub: Int,
                            iters: Int): Array[Array[Seq[Double]]] = {
    val seed = base.orderBy(col("vec_id")).limit(ksub)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    // fail with a diagnosis, not an AIOOBE three stages later: a
    // corpus smaller than ksub cannot seed a full codebook
    require(seed.length == ksub,
      s"PQ needs >= $ksub training vectors to seed each codebook, " +
        s"got ${seed.length}")
    var books: Array[Array[Seq[Double]]] = Array.tabulate(m)(s =>
      seed.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    var it = 0
    while (it < iters) {
      val cid = (0 until m).foldLeft(lit(-1): Column)((acc, s) =>
        when(col("s") === s, graft.functions.VectorExprs.nearest_code_l2(
          col("sub"), books(s).toSeq)).otherwise(acc))
      val means = subs.withColumn("cid", cid)
        .select(col("s"), col("cid"), posexplode(col("sub")))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg((sum(col("col").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, c), rows) =>
          (s, c) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      books = Array.tabulate(m)(s => Array.tabulate(ksub)(c =>
        means.getOrElse((s, c), books(s)(c))))
      it += 1
    }
    books
  }

  /** Product-quantization ANN (the billion-vector memory-compression
    * path): split each embedding into `m` contiguous subvectors,
    * train a `ksub`-entry codebook per subspace (deterministic L2
    * Lloyd), encode the corpus as m small codes (m bytes/vector vs
    * 4·dim — 128× on the 64-dim test embeddings at m=2), and
    * search by Asymmetric Distance Computation: the query precomputes
    * per-subspace distance tables to every codebook entry, and a
    * candidate's approximate distance is just m table lookups — no
    * embedding arithmetic per candidate. At cluster scale PQ codes
    * ride inside IVF cells (probe then ADC); here the ADC scan runs
    * map-side against broadcast queries, mirroring bruteForceTopK's
    * shape with the per-candidate cost collapsed.
    *
    * `rerank` > k enables the standard refine step: the ADC scan
    * keeps the top `rerank` candidates per query, and only those few
    * get an exact L2 against the stored embedding — recall close to
    * exact search while the full corpus is still scanned code-only.
    *
    * Returns (qid, nid, rk, adist) — rk by ascending approx (or
    * refined) L2, ties by nid.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, m: Int, ksub: Int,
             k: Int, iters: Int = 2, rerank: Int = 0,
             trainFraction: Double = 1.0): DataFrame = {
    val base = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val codebooks = trainPqBooks(base, m, subDim, ksub, iters, trainFraction)
    // encode the corpus: m codes per vector — one native argmin kernel
    // per subspace (the inlined ksub-fold formulation interprets; r3 #2)
    val enc = base.select(col("vec_id").as("nid"),
      pqCodes(col("v"), subDim, codebooks).as("codes"))
    val cand = adcScan(queries, enc, subDim, codebooks)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid").asc)
    if (rerank <= k)
      cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    else
      pqRefine(cand, queries, base, w, rerank, k)
  }

  /** IVF-PQ composition — the production billion-vector layout: PQ
    * codes ride inside IVF cells, a query probes its `nprobe` nearest
    * cells, ADC runs only within the probed cells (scan fraction ≈
    * nprobe/c of an already code-compressed corpus), and the ADC
    * shortlist gets an exact refine. Codebooks are trained on the raw
    * vectors (not cell residuals — residual-PQ needs the coarse
    * assignment before training can start, serializing the two builds;
    * raw-vector PQ keeps them independent and the whole index
    * deterministic enough to replicate in oracle SQL).
    *
    * Output (qid, nid, rk, adist): rk by refined exact L2, ties by nid.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, c: Int, nprobe: Int,
                m: Int, ksub: Int, k: Int, ivfIters: Int = 1, pqIters: Int = 1,
                rerank: Int = 0, trainFraction: Double = 1.0): DataFrame = {
    val base = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val centroids = ivfCentroids(corpus, c, ivfIters, trainFraction)
    val codebooks = trainPqBooks(base, m, subDim, ksub, pqIters, trainFraction)
    // one pass over the corpus emits cell id + PQ codes together
    val enc = base.select(col("vec_id").as("nid"),
      nearestCentroid(col("v"), centroids).as("cid"),
      pqCodes(col("v"), subDim, codebooks).as("codes"))
    // probes: nprobe nearest cells per query (sim DESC, cid ASC ties —
    // same comparator as ivfTopK), each probe row carrying the ADC
    // tables so the cell join feeds the table lookups directly
    val probes = queries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("sims",
        graft.functions.VectorExprs.cosine_table(col("qe"), centroids.toSeq))
      .withColumn("probe_cids", slice(array_sort(zip_with(
        col("sims"), sequence(lit(0), lit(centroids.length - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .otherwise(l.getField("i") - r.getField("i"))), 1, nprobe))
      .select(col("qid"), col("qe"), explode(col("probe_cids")).as("p"))
      .select(Seq(col("qid"), col("p.i").as("cid")) ++ (0 until m).map(s =>
        graft.functions.VectorExprs.l2_table(
          subCol(col("qe"), s, subDim), codebooks(s).toSeq).as(s"qt$s")): _*)
    // a vector lives in exactly one cell, so the cell join yields each
    // (qid, nid) at most once — no dedup shuffle needed
    val cand = scoreAdc(enc.join(broadcast(probes), "cid"), m)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid").asc)
    if (rerank <= k)
      cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    else
      pqRefine(cand, queries, base, w, rerank, k)
  }

  private def subCol(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  /** PQ quantization-DISTORTION report: per subspace, the k-means
    * objective the codebook training minimizes — squared L2 between
    * every sub-vector and its nearest code word — plus how many of
    * the ksub codes the corpus actually uses. The measurement that
    * picks (m, ksub) before trusting ADC distances at scale (the
    * q_minhash_accuracy / q_ann_ivf_sweep discipline applied to the
    * compression axis): rising mean_sq_err or collapsed code usage
    * says the codebook under-fits its subspace. Same deterministic
    * build as [[pqTopK]]; encode + distortion are map-side (one
    * native l2-table kernel per subspace), the census one
    * m-row aggregate; distortion sums ride DECIMAL(28,8). */
  def pqDistortion(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
                   trainFraction: Double = 1.0): DataFrame = {
    val base = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val dim = vecDim(corpus, "embedding")
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val books = trainPqBooks(base, m, subDim, ksub, iters, trainFraction)
    val per = base.select(col("vec_id"), posexplode(
        array((0 until m).map(s => subCol(col("v"), s, subDim)): _*)))
      .withColumnRenamed("pos", "s")
      .withColumnRenamed("col", "sub")
    def bySub(f: Int => Column): Column =
      (1 until m).foldLeft(when(col("s") === 0, f(0))) {
        (acc, s) => acc.when(col("s") === s, f(s))
      }
    per
      .withColumn("d", bySub(s => array_min(
        graft.functions.VectorExprs.l2_table(col("sub"), books(s).toSeq))))
      .withColumn("code", bySub(s =>
        graft.functions.VectorExprs.nearest_code_l2(col("sub"), books(s).toSeq)))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("code")).as("codes_used"),
        graft.QUtil.dsum(col("d")).as("total_sq_err"))
      .withColumn("mean_sq_err",
        col("total_sq_err") / col("n_vecs").cast("double"))
  }

  /** train all m codebooks (optionally on a deterministic hash-sample
    * — at 1e9+ vectors codebook quality needs the density shape, not
    * every point; encode and search always see the full corpus) */
  private def trainPqBooks(base: DataFrame, m: Int, subDim: Int, ksub: Int,
                           iters: Int,
                           trainFraction: Double): Array[Array[Seq[Double]]] = {
    val training =
      if (trainFraction >= 1.0) base
      else ScaleOps.hashSample(base, col("vec_id"),
        keepNumerator = math.max(1, (trainFraction * 1000).toInt), denominator = 1000)
    // all m codebooks trained together, one job per iteration
    val subs = training.select(col("vec_id"), posexplode(
        array((0 until m).map(s => subCol(col("v"), s, subDim)): _*)))
      .withColumnRenamed("pos", "s")
      .withColumnRenamed("col", "sub")
      .persist()
    val books = kmeansL2Multi(training, subs, m, subDim, ksub, iters)
    subs.unpersist()
    books
  }

  /** m PQ codes per vector, one native argmin kernel per subspace */
  private def pqCodes(v: Column, subDim: Int,
                      codebooks: Array[Array[Seq[Double]]]): Column =
    array(codebooks.indices.map(s =>
      graft.functions.VectorExprs.nearest_code_l2(
        subCol(v, s, subDim), codebooks(s).toSeq)): _*)

  /** ADC candidate scoring: self-pair filter + the m table lookups
    * summed — ONE definition, shared by the full-corpus scan and the
    * IVF-PQ cell join (a tie/self-match policy change must hit both) */
  private def scoreAdc(cands: DataFrame, m: Int): DataFrame =
    cands.filter(col("qid") =!= col("nid"))
      .withColumn("adist", (0 until m).map(s =>
        element_at(col(s"qt$s"), element_at(col("codes"), s + 1) + 1))
        .reduce(_ + _))
      .select(col("qid"), col("nid"), col("adist"))

  /** full-corpus ADC scan against broadcast per-query distance tables
    * (bruteForceTopK's shape with per-candidate cost collapsed to m
    * table lookups) */
  private def adcScan(queries: DataFrame, enc: DataFrame, subDim: Int,
                      codebooks: Array[Array[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val q = queries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qe"))
      .select(Seq(col("qid")) ++ (0 until m).map(s =>
        graft.functions.VectorExprs.l2_table(
          subCol(col("qe"), s, subDim), codebooks(s).toSeq).as(s"qt$s")): _*)
    scoreAdc(enc.crossJoin(broadcast(q)), m)
  }

  /** refine: exact L2 only for the ADC shortlist (rerank ≪ corpus).
    * The Q×rerank shortlist is the broadcast side — joining it the
    * other way would shuffle the whole corpus to fetch a few hundred
    * embeddings. */
  private def pqRefine(cand: DataFrame, queries: DataFrame, base: DataFrame,
                       w: org.apache.spark.sql.expressions.WindowSpec,
                       rerank: Int, k: Int): DataFrame = {
    val shortlist = cand.withColumn("rk0", row_number().over(w))
      .filter(col("rk0") <= rerank).drop("rk0")
    val qe = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    val ne = base.select(col("vec_id").as("nid"), col("v").as("ne"))
    val refined = ne
      .join(broadcast(shortlist.join(broadcast(qe), "qid")), "nid")
      .select(col("qid"), col("nid"),
        graft.functions.VectorExprs.l2_sq(col("qe"), col("ne")).as("adist"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid").asc)
    refined.withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
  }

  /** Multi-table LSH ANN: `tables` independent hyperplane tables of
    * `planes` bits; a candidate collides with the query in ≥1 table.
    * Exact cosine re-rank of the deduplicated candidate set, top-k.
    *
    * Recall of a neighbor at angle θ is 1−(1−(1−θ/π)^planes)^tables —
    * tune (planes, tables) to corpus size: more planes → smaller
    * buckets (less work), more tables → higher recall. At 1e9+ rows
    * use planes≈16–24 so bucket joins stay bounded.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, planes: Int, k: Int,
              tables: Int = 8): DataFrame =
    lshTopKImpl(queries, corpus, planes, k, tables,
      graft.functions.VectorExprs.hyperplane_buckets)

  /** md5-portable hyperplane LSH (oracle-verifiable; same shape). */
  def lshTopKMd5(queries: DataFrame, corpus: DataFrame, planes: Int, k: Int,
                 tables: Int = 8): DataFrame =
    lshTopKImpl(queries, corpus, planes, k, tables,
      graft.functions.VectorExprs.hyperplane_buckets_md5)

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH candidate
    * generation over the corpus against itself (same bucket in ≥1
    * table, id_a < id_b), exact-cosine verification at `threshold`.
    * The all-pairs O(N²) never materializes — only bucket-collision
    * pairs are scored, the embedding-space twin of minhash-LSH
    * text dedup. md5-portable (oracle-verifiable).
    */
  def embedNearDupPairs(corpus: DataFrame, planes: Int, tables: Int,
                        threshold: Double, maxBucket: Int = 1000): DataFrame = {
    val sig = corpus.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("e"),
        explode(graft.functions.VectorExprs.hyperplane_buckets_md5(
          col("embedding").cast("array<double>"), tables, planes)).as("bucket"))
    val buckets = sig
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("id"), col("e")))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    // score per collision, dedupe after: a pair in k tables recomputes
    // the O(dim) cosine k times, but the dedup then shuffles only
    // (id, id, double) rows with a hash-aggregable buffer — carrying
    // the embeddings through dropDuplicates instead forces a
    // SortAggregate over array columns, which costs far more than the
    // recompute (avg collision multiplicity is small; the kernel is
    // ~dim FMAs)
    buckets.select(explode(
        graft.functions.VectorExprs.pair_combinations(col("members"))).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        cosine(col("p.a.e"), col("p.b.e")).as("sim"))
      // threshold BEFORE the dedup shuffle: cosine is deterministic
      // per pair, so only above-threshold rows need deduplicating
      .filter(col("sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDedup (public method: "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", Abbas et al. 2023):
    * semantic near-duplicate pruning WITHIN embedding clusters — a
    * document is dropped when its cosine similarity to any
    * smaller-id document of the SAME cluster exceeds `threshold`
    * (the paper's keep-one-per-semantic-neighborhood, with the
    * deterministic smallest-id-wins convention this repo uses
    * everywhere; the non-chained prior-id variant keeps verdicts
    * independent per pair, i.e. parallelizable, where the paper's
    * greedy chain is sequential within a cluster).
    *
    * Scale shape: the pairwise comparison is confined to one cluster
    * (the point of SemDedup — the cluster granularity bounds the
    * quadratic; pick the clustering's k so cells stay ~10³-10⁴ at
    * your corpus size, and raise k rather than this cap when cells
    * outgrow it). The join shuffles both sides once on the cluster
    * key; output rows are one per document. `maxCluster` refuses a
    * degenerate clustering (one mega-cell would go quadratic
    * silently) the way LSH's maxBucket caps boilerplate buckets.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               clusterCol: String, threshold: Double,
               maxCluster: Int = 100000): DataFrame = {
    val v = corpus.select(col(clusterCol).as("__cl"), col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__e"))
    val sizes = v.groupBy(col("__cl")).agg(count(lit(1)).as("__n"))
    val guarded = v.join(sizes, Seq("__cl"))
      .withColumn("__ok", when(col("__n") <= maxCluster, true)
        .otherwise(raise_error(concat(lit("semDedup cluster "), col("__cl"),
          lit(s" exceeds maxCluster=$maxCluster — re-cluster with larger k")))))
      .filter(col("__ok")).drop("__n", "__ok")
    val prior = guarded.select(col("__cl").as("__pcl"),
      col("__id").as("__pid"), col("__e").as("__pe"))
    val sims = guarded.join(prior,
        col("__pcl") === col("__cl") && col("__pid") < col("__id"))
      .select(col("__id"), cosine(col("__pe"), col("__e")).as("__sim"))
      .groupBy(col("__id")).agg(max(col("__sim")).as("max_prior_sim"))
    v.join(sims, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cl").as(clusterCol),
        col("max_prior_sim"),
        when(col("max_prior_sim").isNull || col("max_prior_sim") < threshold,
          lit("keep")).otherwise(lit("drop")).as("verdict"))
  }

  /** shared LSH candidate shape behind [[lshTopK]]/[[lshTopKMd5]]/
    * [[hardNegativesLsh]] — one implementation, so bucket-join or
    * tie-break fixes can never diverge between the exact/scale pairs */
  private def lshTopKImpl(queries: DataFrame, corpus: DataFrame, planes: Int,
                          k: Int, tables: Int,
                          bucketsOf: (Column, Int, Int) => Column,
                          withLabels: Boolean = false): DataFrame = {
    def sig(df: DataFrame, idAs: String, lblAs: String, embAs: String) = {
      val cols = Seq(col("vec_id").as(idAs)) ++
        (if (withLabels) Seq(col("label").as(lblAs)) else Nil) :+
        col("embedding").cast("array<double>").as(embAs)
      df.select(cols: _*).withColumn("bucket",
        explode(bucketsOf(col(embAs), tables, planes)))
    }
    val q = sig(queries, "qid", "qlabel", "qe")
    val c = sig(corpus, "nid", "nlabel", "ne")
    // score per collision, dedup the scalar rows after — deduping
    // while carrying the embedding arrays would force a SortAggregate
    // over arrays (see embedNearDupPairs), far costlier than a few
    // recomputed dim-FMA cosines
    val base = c.join(broadcast(q), "bucket")
      .filter(col("qid") =!= col("nid"))
    val filtered =
      if (withLabels) base.filter(col("qlabel") =!= col("nlabel")) else base
    val outCols = Seq(col("qid")) ++
      (if (withLabels) Seq(col("qlabel")) else Nil) ++ Seq(col("nid")) ++
      (if (withLabels) Seq(col("nlabel")) else Nil) :+
      cosine(col("qe"), col("ne")).as("sim")
    rankTopK(filtered.select(outCols: _*).dropDuplicates("qid", "nid"), k)
  }

  // ------------------------------------------------------------------
  // Partitioned small-world graph ANN
  // ------------------------------------------------------------------

  /** Per-cell navigable-small-world adjacency: within each centroid
    * cell, every node's top-`m` cosine neighbors drawn from LSH
    * bucket-collision candidates (bucket key includes the cell, so
    * candidate generation is cell-local and never all-pairs; the
    * multi-table LSH plays the NSW "long edge" role — different
    * tables link different neighborhoods of the cell). Edges are
    * symmetrized BEFORE the top-m cut so a popular hub is reachable
    * from its satellites even when the hub's own list is full.
    * Returns (nid, nbrs array<long>), |nbrs| ≤ m.
    *
    * Scale shape: one shuffle on (cell, bucket), one on node id;
    * adjacency is ~m·8 bytes per node and joins by id — it is never
    * broadcast and never carries embeddings. */
  def nswAdjacency(nodes: DataFrame, m: Int, planes: Int, tables: Int,
                   maxBucket: Int = 1000): DataFrame = {
    val sig = nodes.select(col("cid"), col("nid"), col("ne"),
      explode(graft.functions.VectorExprs.hyperplane_buckets_md5(
        col("ne"), tables, planes)).as("bucket"))
    val buckets = sig
      .groupBy(col("cid"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("nid").as("id"),
        col("ne").as("e")))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val cand = buckets.select(explode(
        graft.functions.VectorExprs.pair_combinations(col("members"))).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        cosine(col("p.a.e"), col("p.b.e")).as("sim"))
      .dropDuplicates("id_a", "id_b")
    val sym = cand.unionByName(cand.select(col("id_b").as("id_a"),
      col("id_a").as("id_b"), col("sim")))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("sim").desc, col("id_b").asc)
    sym.withColumn("rk", row_number().over(w)).filter(col("rk") <= m)
      .groupBy(col("id_a").as("nid"))
      .agg(sort_array(collect_list(col("id_b"))).as("nbrs"))
  }

  /** Partitioned small-world graph ANN — the graph member of the
    * billion-vector index family (public method: Malkov & Yashunin,
    * "Efficient and robust approximate nearest neighbor search using
    * Hierarchical Navigable Small World graphs", TPAMI 2018).
    *
    * Spark-first adaptation, deliberately NOT a port of the insert-
    * time hierarchy: HNSW's upper layers exist to give greedy search
    * a coarse entry point, and they are built by inherently
    * sequential inserts. The distributed equivalent (the
    * SPANN/DiskANN-style sharded layout) replaces them with a coarse
    * ROUTER — the deterministic IVF centroid build — so each cell
    * holds an independent flat NSW subgraph ([[nswAdjacency]]) built
    * cell-locally, and greedy descent becomes a bounded-hop BEAM
    * search the DataFrame runtime executes as `hops` join+window
    * rounds:
    *
    *  - route: per query, the `nprobe` nearest cells (exact cosine
    *    against the broadcast centroid table);
    *  - enter: each probed cell's MEDOID (its node nearest the
    *    centroid) seeds the frontier;
    *  - expand ×`hops`: frontier → adjacency join → neighbor ids →
    *    exact cosine against the query → per-query top-`beam`
    *    becomes the next frontier; every scored candidate is kept;
    *  - re-rank: exact top-`k` over all visited candidates.
    *
    * Scale shape: each hop shuffles ≤ |queries|·beam·m (id, id)
    * rows plus one id-keyed join against the node table for
    * embeddings — the graph and the corpus never broadcast and the
    * exact kernel touches only visited nodes. Recall comes from
    * beam width × hops × nprobe, spec-pinned against the
    * brute-force oracle (the q_ann_recall discipline). */
  /** the shared build half of the graph index: router centroids,
    * cell-assigned checkpointed node table, checkpointed NSW
    * adjacency, and the per-cell entry ranking (mrk) up to
    * `maxEntries` — an `entries = e` leg is the RANK-PREFIX
    * `mrk <= e` of this one frame, so a sweep never rebuilds. */
  private final case class HnswIndex(
      centroids: Array[Seq[Double]], nodes: DataFrame, adj: DataFrame,
      medoids: DataFrame /* cid, nid, mrk */)

  /** overlap INDEPENDENT Spark actions inside one operator —
    * see [[graft.QUtil.inParallel]] (guide §2.6) */
  private def inParallel[A](work: Seq[() => A], slots: Int = 4): Seq[A] =
    graft.QUtil.inParallel(work, slots)

  private def hnswBuild(corpus: DataFrame, c: Int, m: Int, planes: Int,
                        tables: Int, iters: Int, maxBucket: Int,
                        maxEntries: Int): HnswIndex = {
    val centroids = ivfCentroids(corpus, c, iters)
    // nodes feed the adjacency build, the medoid pick and every
    // hop's embedding join — checkpoint so the cell assignment
    // kernel runs once, not once per consumer
    val nodes = corpus.select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("ne"))
      .withColumn("cid", nearestCentroid(col("ne"), centroids))
      .localCheckpoint()
    // adjacency and medoids both read the checkpointed nodes and are
    // independent of each other — overlap their materializing jobs
    // (guide §2.6; the eager localCheckpoints otherwise serialize)
    val built = inParallel(Seq(
      () => nswAdjacency(nodes, m, planes, tables, maxBucket)
        .localCheckpoint(), // reused `hops` times per search leg
      () => {
        // cell entry points: the nodes most aligned with their own
        // centroid (entry diversity matters on weakly-clustered data —
        // one medoid strands the beam in its own graph neighborhood)
        val wMed = Window.partitionBy(col("cid"))
          .orderBy(col("msim").desc, col("nid").asc)
        nodes
          .withColumn("msim", element_at(graft.functions.VectorExprs
            .cosine_table(col("ne"), centroids.toSeq), col("cid") + 1))
          .withColumn("mrk", row_number().over(wMed))
          .filter(col("mrk") <= maxEntries)
          .select(col("cid"), col("nid"), col("mrk"))
          .localCheckpoint()
      }))
    HnswIndex(centroids, nodes, built(0), built(1))
  }

  /** the search half: route → enter → expand ×hops → accumulate.
    * Returns the scored candidate set after EVERY hop (index 0 =
    * entry seeds) — each frame is localCheckpointed and nests in the
    * next (scored only grows), so a hops-axis sweep reads recall per
    * hop from ONE search. Callers wanting just the final set take
    * `.last`. */
  private def hnswSearchScored(queries: DataFrame, idx: HnswIndex,
                               nprobe: Int, entries: Int, beam: Int,
                               hops: Int): Seq[DataFrame] = {
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe"))
    // route: top-nprobe cells per query (the ivfTopK probe shape,
    // same deterministic tie rule: sim desc, lower cell id)
    val probes = q
      .withColumn("sims", graft.functions.VectorExprs.cosine_table(
        col("qe"), idx.centroids.toSeq))
      .withColumn("probe_cids", slice(array_sort(zip_with(
        col("sims"), sequence(lit(0), lit(idx.centroids.length - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .otherwise(l.getField("i") - r.getField("i"))), 1, nprobe))
      .select(col("qid"), explode(col("probe_cids")).as("p"))
      .select(col("qid"), col("p.i").as("cid"))
    def score(frontier: DataFrame): DataFrame =
      frontier.join(idx.nodes.select(col("nid"), col("ne")), "nid")
        .join(q, "qid")
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("sim"))
    val wBeam = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val seeds = probes
      .join(idx.medoids.filter(col("mrk") <= entries), "cid")
      .select(col("qid"), col("nid"))
    var scored = score(seeds)
      .localCheckpoint() // bound the unrolled-loop plan depth
    val snapshots = scala.collection.mutable.ArrayBuffer(scored)
    var frontier = scored.withColumn("rk", row_number().over(wBeam))
      .filter(col("rk") <= beam).select(col("qid"), col("nid"))
    for (_ <- 0 until hops) {
      val expanded = frontier.join(idx.adj, "nid")
        .select(col("qid"), explode(col("nbrs")).as("nid"))
        .dropDuplicates("qid", "nid")
      scored = scored.unionByName(score(expanded))
        .dropDuplicates("qid", "nid").localCheckpoint()
      snapshots += scored
      frontier = scored.withColumn("rk", row_number().over(wBeam))
        .filter(col("rk") <= beam).select(col("qid"), col("nid"))
    }
    snapshots.toSeq
  }

  private def hnswTopKOf(scored: DataFrame, k: Int): DataFrame = {
    val wBeam = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(wBeam)).filter(col("rk") <= k)
  }

  def hnswTopK(queries: DataFrame, corpus: DataFrame, c: Int, nprobe: Int,
               m: Int, beam: Int, hops: Int, k: Int, planes: Int = 4,
               tables: Int = 8, iters: Int = 1,
               maxBucket: Int = 1000, entries: Int = 1): DataFrame = {
    val idx = hnswBuild(corpus, c, m, planes, tables, iters, maxBucket,
      maxEntries = entries)
    hnswTopKOf(
      hnswSearchScored(queries, idx, nprobe, entries, beam, hops).last, k)
  }

  /** Hyperplane-LSH tuning SWEEP (the q_ann_ivf_sweep discipline on
    * the LSH member — completes the index-QA family: every index in
    * the production set now carries its dial table): recall@k vs
    * candidate cost across (tables, planes).
    *
    *  - `tables` axis: a RANK-PREFIX by construction — bucket keys
    *    are table-qualified ("t:bits", Kernels.bucketsWith), so the
    *    candidate set of the first t tables NESTS in the first t+1's;
    *    ONE collision pass at the full table count carries each
    *    pair's min colliding table, and every grid value is a
    *    filter, never a re-search. Recall under exact re-rank of
    *    nested sets is monotone — a theorem the spec pins.
    *  - `planes` axis: signatures change wholesale — bounded
    *    re-collision passes (broadcast-query joins; the build has no
    *    shared half to reuse, unlike IVF/HNSW).
    *
    * md5 bucket kernel (the q_ann_lsh/q_ann_recall configuration);
    * output schema identical to [[hnswSweep]]. */
  def lshSweep(queries: DataFrame, corpus: DataFrame, planes: Int,
               tables: Int, k: Int, planesGrid: Seq[Int],
               tablesGrid: Seq[Int]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // one collision pass at (p, t): per candidate pair the exact
    // cosine and the FIRST table it collided in
    def candPairs(p: Int, t: Int): DataFrame = {
      def sig(df: DataFrame, idAs: String, embAs: String) =
        df.select(col("vec_id").as(idAs),
            col("embedding").cast("array<double>").as(embAs))
          .select(col(idAs), col(embAs), posexplode(
            graft.functions.VectorExprs.hyperplane_buckets_md5(
              col(embAs), t, p)))
          .toDF(idAs, embAs, "tbl", "bucket")
      sig(corpus, "nid", "ne")
        .join(broadcast(sig(queries, "qid", "qe")
          .withColumnRenamed("tbl", "qtbl")), "bucket")
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          cosine(col("qe"), col("ne")).as("sim"), col("tbl"))
        .groupBy(col("qid"), col("nid"))
        .agg(min(col("tbl")).as("first_t"), first(col("sim")).as("sim"))
    }
    // ground truth, the full collision pass and every planes leg's
    // re-collision pass are independent checkpoint jobs — overlap
    // them, then overlap the per-grid-point counting actions too
    // (guide §2.6; values unchanged, only submission order).
    // planes-leg checkpoints: leg() ends in ONE action (hits + cands
    // in a single aggregate), but the candidate frame appears TWICE
    // inside that one plan — as the base pair scan and again under
    // the rankTopK branch — so without the pin Catalyst re-expands
    // the subplan and each planes leg pays the collision join twice
    // (the tables axis already shares `full` the same way)
    val planesLegs = planesGrid.filter(_ != planes)
    val pre = inParallel(Seq[() => DataFrame](
      () => bruteForceTopK(queries, corpus, k)
        .select(col("qid"), col("nid")).localCheckpoint(),
      () => candPairs(planes, tables).localCheckpoint()) ++
      planesLegs.map(p => () => candPairs(p, tables).localCheckpoint()))
    val brute = pre(0)
    val full = pre(1)
    val planeCands = pre.drop(2)
    val nq = queries.count()
    // one action per grid point (the hnswSweep leg discipline): hit
    // count and candidate count ride the same aggregate
    def leg(cands: DataFrame): (Long, Long) = {
      val topk = rankTopK(cands.select(col("qid"), col("nid"), col("sim")), k)
        .select(col("qid"), col("nid"), lit(1L).as("__k"))
      val row = cands.select(col("qid"), col("nid"))
        .join(brute.withColumn("__b", lit(1L)), Seq("qid", "nid"), "left")
        .join(topk, Seq("qid", "nid"), "left")
        .agg(sum(when(col("__k") === 1L && col("__b") === 1L, 1L)
            .otherwise(0L)).as("hits"),
          count(lit(1)).as("cands"))
        .first()
      (row.getLong(0), row.getLong(1))
    }
    val legged = inParallel(
      tablesGrid.map(t => () => leg(full.filter(col("first_t") < t))) ++
        planeCands.map(c => () => leg(c)))
    val tableRows = tablesGrid.zip(legged.take(tablesGrid.size)).map {
      case (t, (hits, cands)) => ("tables", t, hits, cands)
    }
    val anchor = tablesGrid.indexOf(tables) match {
      case -1 => { val (h2, c2) = leg(full); ("planes", planes, h2, c2) }
      case i  => ("planes", planes, tableRows(i)._3, tableRows(i)._4)
    }
    val planeRows = planesLegs.zip(legged.drop(tablesGrid.size)).map {
      case (p, (hits, cands)) => ("planes", p, hits, cands)
    } :+ anchor
    (tableRows ++ planeRows)
      .map { case (axis, v, hits, cands) =>
        (axis, v, hits, nq, hits.toDouble / (k.toLong * nq).toDouble, cands)
      }
      .toDF("axis", "value", "hits", "n_q", "recall", "cands")
  }

  /** HNSW tuning SWEEP (the q_ann_ivf_sweep discipline extended to
    * the graph member — r14 verdict #3): recall@k vs scored-candidate
    * cost across the three search dials, ONE build. The expensive
    * half (centroids, cell assignment, LSH-seeded NSW adjacency,
    * entry ranking) builds once and every leg shares it:
    *
    *  - `hops` axis: FREE — the search accumulates candidates, so
    *    the per-hop snapshots of the default leg nest
    *    (scored(h) ⊆ scored(h+1)); recall from an exact re-rank of a
    *    nested superset is monotone non-decreasing — a theorem the
    *    spec pins, not an empirical hope.
    *  - `beam` and `entries` axes: bounded RE-SEARCH on the same
    *    checkpointed adjacency (the trajectory genuinely changes, so
    *    a rank-prefix cannot stand in); the entries legs read their
    *    seeds as the mrk <= e rank-prefix of one medoid frame.
    *
    * Output: (axis, value, hits, n_q, recall, cands) — `hits` the
    * exact-integer overlap with brute-force top-k over all queries,
    * `cands` the total scored candidates (the cost a deployment
    * trades against recall). The default point (beam, entries,
    * hops all at their q_ann_hnsw values) appears on every axis —
    * one search, three anchor rows — so the table is internally
    * cross-checkable. */
  def hnswSweep(queries: DataFrame, corpus: DataFrame, c: Int, nprobe: Int,
                m: Int, k: Int, hops: Int, beam: Int, entries: Int,
                beamGrid: Seq[Int], entriesGrid: Seq[Int],
                planes: Int = 4, tables: Int = 8, iters: Int = 1,
                maxBucket: Int = 1000): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // the graph build and the brute-force ground truth are
    // independent — overlap them (guide §2.6)
    val built = inParallel(Seq[() => AnyRef](
      () => hnswBuild(corpus, c, m, planes, tables, iters, maxBucket,
        maxEntries = (entries +: entriesGrid).max),
      // exact ground truth once: (qid, nid) pairs of brute top-k
      () => bruteForceTopK(queries, corpus, k)
        .select(col("qid"), col("nid")).localCheckpoint()))
    val idx = built(0).asInstanceOf[HnswIndex]
    val brute = built(1).asInstanceOf[DataFrame]
    val nq = queries.count()
    // ONE action per grid point: hit count and candidate count ride
    // the same aggregate (a separate intersect().count() +
    // scored.count() pair doubled the sweep's driver-overhead-bound
    // job count — 16 jobs → 8)
    def leg(scored: DataFrame): (Long, Long) = {
      val topk = hnswTopKOf(scored, k)
        .select(col("qid"), col("nid"), lit(1L).as("__k"))
      val row = scored
        .join(brute.withColumn("__b", lit(1L)), Seq("qid", "nid"), "left")
        .join(topk, Seq("qid", "nid"), "left")
        .agg(sum(when(col("__k") === 1L && col("__b") === 1L, 1L)
            .otherwise(0L)).as("hits"),
          count(lit(1)).as("cands"))
        .first()
      (row.getLong(0), row.getLong(1))
    }
    // Every leg below reads only the ONE checkpointed index — the
    // default search's hop snapshots, each beam/entries re-search,
    // and each leg's counting action are INDEPENDENT Spark jobs, so
    // they overlap (guide §2.6: the r18 serial form ran 4 searches ×
    // 5 eager checkpoints + 8 counting actions strictly one after
    // another; with 10-query frames no single job fills the cluster,
    // so overlap is near-free — measured 9.3 s → see
    // OPTIMIZATION_r18.md — and row VALUES are untouched: same
    // frames, same actions, different submission order).
    val searches = inParallel(Seq[() => Seq[DataFrame]](
      () => hnswSearchScored(queries, idx, nprobe, entries, beam, hops)) ++
      beamGrid.filter(_ != beam).map(b => () =>
        Seq(hnswSearchScored(queries, idx, nprobe, entries, b, hops).last)) ++
      entriesGrid.filter(_ != entries).map(e => () =>
        Seq(hnswSearchScored(queries, idx, nprobe, e, beam, hops).last)))
    val snaps = searches.head
    val beamLast = searches.slice(1, 1 + beamGrid.count(_ != beam)).map(_.head)
    val entryLast = searches.drop(1 + beamGrid.count(_ != beam)).map(_.head)
    val legged = inParallel(
      (snaps ++ beamLast ++ entryLast).map(s => () => leg(s)))
    val hopRows = legged.take(snaps.size).zipWithIndex.map {
      case ((hits, cands), h) => ("hops", h, hits, cands)
    }
    val anchor = hopRows.last
    val beamRows = beamGrid.filter(_ != beam)
      .zip(legged.slice(snaps.size, snaps.size + beamLast.size))
      .map { case (b, (hits, cands)) => ("beam", b, hits, cands) } :+
      (("beam", beam, anchor._3, anchor._4))
    val entryRows = entriesGrid.filter(_ != entries)
      .zip(legged.drop(snaps.size + beamLast.size))
      .map { case (e, (hits, cands)) => ("entries", e, hits, cands) } :+
      (("entries", entries, anchor._3, anchor._4))
    (hopRows ++ beamRows ++ entryRows)
      .map { case (axis, v, hits, cands) =>
        (axis, v, hits, nq, hits.toDouble / (k.toLong * nq).toDouble, cands)
      }
      .toDF("axis", "value", "hits", "n_q", "recall", "cands")
  }
}
