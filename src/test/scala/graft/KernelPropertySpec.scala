package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, MetricsOps}

/** Property tests: the native kernels must agree with independent
  * straight-Scala reference implementations on generated inputs
  * (raw ScalaCheck generators, seeded for reproducibility).
  */
class KernelPropertySpec extends AnyFunSuite {
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private lazy val spark = TestSession.spark
  import spark.implicits._

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))
  private val doc = Gen.listOf(word).map(_.mkString(" "))

  private def refShingles(text: String, n: Int): Seq[String] = {
    val ws = text.trim.split("\\s+").filter(_.nonEmpty)
    if (ws.length < n) Seq.empty
    else ws.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  test("segments8 matches the grouped(8) reference on arbitrary token arrays") {
    // the kernel three surfaces share (q_split_leakage, q_novelty,
    // both streaming guards): consecutive 8-token windows, last
    // allowed short — must equal plain Scala grouped(8) exactly,
    // including the 1-token and exact-multiple edges
    val arrGen = Gen.nonEmptyListOf(word).map(_.take(40))
    val cases = samples(arrGen, 120) ++
      Seq(Seq.empty[String], Seq("a"), (1 to 8).map(i => s"w$i"),
        (1 to 16).map(i => s"w$i"), (1 to 17).map(i => s"w$i")).map(_.toList)
    val df = cases.zipWithIndex.map { case (ws, i) => (i, ws) }
      .toDF("i", "ws")
      .select(col("i"), graft.operators.TextOps.segments8(col("ws")).as("segs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    cases.zipWithIndex.foreach { case (ws, i) =>
      val expect = ws.grouped(8).map(_.mkString(" ")).toSeq
      assert(df(i) == expect, s"case $i: ${df(i)} != $expect")
    }
  }

  test("bm25 matches a driver-side reference implementation (rational idf)") {
    import org.apache.spark.sql.functions.col
    val terms = Seq("spark", "join", "window")
    val k1 = 1.2; val b = 0.75
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = graft.operators.TextOps.bm25(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // independent reference: plain Scala over the collected corpus
    val corpus = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val n = corpus.length.toDouble
    val avgdl = corpus.map(_._2.length.toLong).sum.toDouble / n
    val dfT = terms.map(t => t -> corpus.count(_._2.contains(t)).toDouble).toMap
    val expect = corpus.flatMap { case (id, toks) =>
      val scores = terms.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None
        else Some(((n - dfT(t)) + 0.5) / (dfT(t) + 0.5) * (tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * (toks.length.toDouble / avgdl))))
      }
      if (scores.isEmpty) None
      else Some(id -> (scores.length.toLong,
        scores.map(BigDecimal(_).setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble))
    }.toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (nt, s)) =>
      assert(nt == expect(id)._1, s"doc $id n_terms")
      assert(math.abs(s - expect(id)._2) < 1e-9, s"doc $id: $s vs ${expect(id)._2}")
    }
    // every scored doc actually contains a query term; none missed
    assert(got.nonEmpty && got.keySet == corpus
      .filter(_._2.exists(terms.contains)).map(_._1).toSet)
  }

  test("lmBigramScore matches a driver-side reference implementation") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = graft.operators.TextOps.lmBigramScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val corpus = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val bigrams = corpus.flatMap { case (_, t) => t.zip(t.tail) }
    val c12 = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toDouble }
    val c1 = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toDouble }
    val vocab = corpus.flatMap(_._2).distinct.length.toDouble
    val expect = corpus.filter(_._2.length >= 2).map { case (id, t) =>
      val ps = t.zip(t.tail).map(b => (c12(b) + 1.0) / (c1(b._1) + vocab))
      id -> (ps.length.toLong,
        ps.map(BigDecimal(_).setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / ps.length)
    }.toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (n, s)) =>
      assert(n == expect(id)._1, s"doc $id n_bigrams")
      assert(math.abs(s - expect(id)._2) < 1e-9, s"doc $id: $s vs ${expect(id)._2}")
    }
    // sanity: scores are probabilities-ish, strictly inside (0, 1)
    assert(got.values.forall { case (_, s) => s > 0.0 && s < 1.0 })
  }

  test("WordShingles matches the sliding-window reference on arbitrary docs") {
    samples(Gen.listOfN(8, doc), 20).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"), DedupOps.shinglesOfText(col("text"), 3).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      docs.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == refShingles(t, 3), s"doc: '$t'")
      }
    }
  }

  test("CosineSim is bit-identical to a sequential double fold") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0))
    samples(Gen.zip(vec, vec), 20).foreach { case (a, b) =>
      if (a.exists(_ != 0.0) && b.exists(_ != 0.0)) {
        val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
        val got = df.select(graft.functions.VectorExprs.cosine_sim(col("a"), col("b")))
          .head().getDouble(0)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.zip(b).foreach { case (x, y) => dot += x * y; na += x * x; nb += y * y }
        val want = dot / (math.sqrt(na) * math.sqrt(nb))
        assert(java.lang.Double.doubleToLongBits(got) ==
          java.lang.Double.doubleToLongBits(want))
      }
    }
  }

  test("L2Sq is bit-identical to the HOF left-fold formulation") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0))
    samples(Gen.zip(vec, vec), 20).foreach { case (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val native = df.select(
        graft.functions.VectorExprs.l2_sq(col("a"), col("b"))).head().getDouble(0)
      val hof = df.select(
        graft.operators.AnnOps.l2sq(col("a"), col("b"))).head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(native) ==
        java.lang.Double.doubleToLongBits(hof))
    }
  }

  test("codebook-table kernels match the inlined-expression formulations") {
    import graft.functions.VectorExprs
    val vec = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0))
    samples(Gen.zip(Gen.listOfN(6, vec), Gen.listOfN(5, vec)), 8).foreach {
      case (rows, bookL) =>
        val book: Seq[Seq[Double]] = bookL.map(_.toSeq)
        val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }.toDF("id", "v")
        // l2_table / cosine_table: element i == the pairwise kernel
        // against entry i, bit-for-bit
        val tbl = df.select(col("id"),
            VectorExprs.l2_table(col("v"), book).as("lt"),
            VectorExprs.cosine_table(col("v"), book).as("ct"))
          .collect().map(r => r.getLong(0) -> (r.getSeq[Double](1), r.getSeq[Double](2))).toMap
        val pair = df.select(Seq(col("id")) ++ book.indices.flatMap(i => Seq(
            VectorExprs.l2_sq(col("v"), typedLit(book(i))).as(s"l$i"),
            VectorExprs.cosine_sim(col("v"), typedLit(book(i))).as(s"c$i"))): _*)
          .collect().map(r => r.getLong(0) ->
            (book.indices.map(i => r.getDouble(1 + 2 * i)),
             book.indices.map(i => r.getDouble(2 + 2 * i)))).toMap
        tbl.foreach { case (id, (lt, ct)) =>
          assert(lt.map(java.lang.Double.doubleToLongBits) ==
            pair(id)._1.map(java.lang.Double.doubleToLongBits), s"l2_table row $id")
          assert(ct.map(java.lang.Double.doubleToLongBits) ==
            pair(id)._2.map(java.lang.Double.doubleToLongBits), s"cosine_table row $id")
        }
        // nearest_* argmin/argmax: identical to the array_position
        // formulation the r3 code inlined (first-min / first-max ties)
        val arg = df.select(col("id"),
            VectorExprs.nearest_code_l2(col("v"), book).as("nc"),
            VectorExprs.nearest_centroid(col("v"), book).as("nx"))
          .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
        val ref = df.select(col("id"),
            (array_position(
              array(book.map(ct => VectorExprs.l2_sq(col("v"), typedLit(ct))): _*),
              array_min(array(book.map(ct =>
                VectorExprs.l2_sq(col("v"), typedLit(ct))): _*))) - 1).cast("int").as("nc"),
            (array_position(
              array(book.map(ct => VectorExprs.cosine_sim(col("v"), typedLit(ct))): _*),
              array_max(array(book.map(ct =>
                VectorExprs.cosine_sim(col("v"), typedLit(ct))): _*))) - 1).cast("int").as("nx"))
          .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
        arg.foreach { case (id, got) => assert(got == ref(id), s"argmin/argmax row $id") }
    }
  }

  test("expBucket equals smallest k with v <= 2^k") {
    val v = Gen.chooseNum(0.01, 4000.0)
    samples(Gen.listOfN(32, v), 10).foreach { vs =>
      val df = vs.toDF("value")
      val got = df.select(col("value"),
          MetricsOps.expBucket(col("value"), -8, 13).as("k"))
        .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
      vs.foreach { x =>
        val want = (-8 to 13).find(k => x <= math.pow(2.0, k)).getOrElse(14)
        assert(got(x) == want, s"value $x")
      }
    }
  }

  test("expDownscaleIdx is floor division on signed indexes (merges the right neighbors)") {
    // bucket i at scale s covers (2^(i/2^s), 2^((i+1)/2^s)]; lowering
    // to scale t merges runs of 2^(s-t) — new index MUST be
    // floorDiv(i, 2^(s-t)), including below zero where truncating
    // division would merge across the 1.0 boundary
    val rows = for (i <- -20L to 20L; s <- Seq(1, 2, 3)) yield (i, s)
    val df = rows.toDF("idx", "scale")
    val got = df.select(col("idx"), col("scale"),
        MetricsOps.expDownscaleIdx(col("idx"), col("scale"), 0).as("d"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { case (i, s) =>
      assert(got((i, s)) == Math.floorDiv(i, 1L << s), s"idx=$i scale=$s")
    }
  }

  test("md5 minhash kernel matches Spark's own md5 function per lane") {
    samples(Gen.listOfN(6, doc).map(_.filter(_.split("\\s+").length >= 3)), 10).foreach { docs =>
      if (docs.nonEmpty) {
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
          .select(col("id"), DedupOps.shinglesOfText(col("text"), 3).as("shs"))
          .filter(size(col("shs")) > 0)
        val kernel = df.select(col("id"),
            DedupOps.minhashSignatureMd5(col("shs"), 8).as("sig"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        // independent formulation from Spark's built-in md5/HOFs:
        // lane i = 8-hex slice (i%4) of md5((i/4) + "|" + shingle)
        val hof = df.select(col("id"), transform(sequence(lit(0), lit(7)),
            i => array_min(transform(col("shs"),
              s => md5(concat((i / 4).cast("int").cast("string"), lit("|"), s))
                .substr((i % 4) * 8 + 1, lit(8))))).as("sig"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        kernel.foreach { case (id, sig) => assert(sig == hof(id), s"doc $id") }
      }
    }
  }

  test("md5 simhash kernel matches hex-nibble bit arithmetic") {
    samples(Gen.listOfN(5, doc), 10).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val kernel = df.select(col("id"),
          DedupOps.simhashBitsMd5(DedupOps.tokens(col("text"))).as("bits"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      docs.zipWithIndex.foreach { case (t, i) =>
        val toks = t.trim.split("\\s+").toSeq
        val votes = new Array[Int](64)
        toks.foreach { tok =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
          (0 until 64).foreach { j =>
            val nib = "0123456789abcdef".indexOf(hex.charAt(j / 4))
            val bit = (nib >> (3 - j % 4)) & 1
            if (bit == 1) votes(j) += 1 else votes(j) -= 1
          }
        }
        val want = votes.map(v => if (v > 0) 1 else 0).toSeq
        assert(kernel(i.toLong) == want, s"doc: '$t'")
      }
    }
  }

  test("md5 hyperplane buckets match an independent md5-sign fold") {
    val vec = Gen.listOfN(12, Gen.chooseNum(-1.0, 1.0))
    samples(Gen.listOfN(4, vec), 6).foreach { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }.toDF("id", "v")
      val got = df.select(col("id"),
          graft.functions.VectorExprs.hyperplane_buckets_md5(col("v"), 3, 4).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      vecs.zipWithIndex.foreach { case (v, id) =>
        val want = (0 until 3).map { t =>
          val bits = (0 until 4).map { p =>
            var s = 0.0
            v.indices.foreach { d =>
              val hex = java.security.MessageDigest.getInstance("MD5")
                .digest(s"$t/$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
              s += (if (hex.charAt(0) <= '7') v(d) else -v(d))
            }
            if (s > 0) '1' else '0'
          }.mkString
          s"$t:$bits"
        }
        assert(got(id.toLong) == want, s"vec $id")
      }
    }
  }

  test("simhash128 halves agree with two independent 64-bit vote folds") {
    samples(Gen.listOfN(4, doc), 8).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"),
          graft.operators.DedupOps.simhashBits128(
            graft.operators.DedupOps.tokens(col("text"))).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      // first 64 bits use seed 42 — must equal the 64-bit kernel
      val narrow = df.select(col("id"),
          graft.operators.DedupOps.simhashBits(
            graft.operators.DedupOps.tokens(col("text"))).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      got.foreach { case (id, bits) =>
        assert(bits.length == 128)
        assert(bits.take(64) == narrow(id), s"doc $id: low half != 64-bit simhash")
      }
    }
  }

  test("approx summary quantiles stay within rank tolerance of exact") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    val exact = MetricsOps.summaryQuantiles(ev, Seq(col("event_type")),
        col("value"), Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val approx = MetricsOps.summaryQuantilesApprox(ev, Seq(col("event_type")),
        col("value"), Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    exact.foreach { case (k, (q50e, q90e)) =>
      val (q50a, q90a) = approx(k)
      // value tolerance: values span ~[0, 200]; rank error 1e-4 on a
      // smooth distribution keeps the value within a few units
      assert(math.abs(q50a - q50e) <= math.max(1.0, 0.05 * math.abs(q50e)), s"$k q50 $q50a vs $q50e")
      assert(math.abs(q90a - q90e) <= math.max(1.0, 0.05 * math.abs(q90e)), s"$k q90 $q90a vs $q90e")
    }
  }

  test("exp-histogram quantiles: exact interpolation on a known bucket table") {
    // two buckets of 10: idx 3 covers (4,8], idx 4 covers (8,16] —
    // rank walk + linear interpolation has closed-form answers
    val b = Seq(("s", 3L, 10L), ("s", 4L, 10L)).toDF("series", "k", "cnt")
    val got = MetricsOps.expQuantiles(b, Seq(col("series")), col("k"),
      col("cnt"), Seq(0.5, 0.75, 1.0), -4, 12).collect().head
    assert(got.getAs[Long]("n") == 20L)
    assert(got.getAs[Double]("q50") == 8.0)   // r=10 tops out bucket 3
    assert(got.getAs[Double]("q75") == 12.0)  // halfway into (8,16]
    assert(got.getAs[Double]("q100") == 16.0) // the max bound
    // underflow bucket interpolates inside [0, 2^kMin]; overflow
    // clamps to 2^kMax (it has no upper bound to interpolate toward)
    val edges = Seq(("e", -4L, 10L), ("e", 13L, 10L)).toDF("series", "k", "cnt")
    val e = MetricsOps.expQuantiles(edges, Seq(col("series")), col("k"),
      col("cnt"), Seq(0.25, 0.99), -4, 12).collect().head
    assert(e.getAs[Double]("q25") == 0.5 * math.pow(2.0, -4))
    assert(e.getAs[Double]("q99") == math.pow(2.0, 12))
  }

  test("explicit-bounds quantiles: closed-form interpolation, bucket-0 from zero, overflow clamps") {
    val spark2 = spark
    import spark2.implicits._
    // bounds (10, 20, 30): bucket 0 = (-inf,10], 1 = (10,20],
    // 2 = (20,30], 3 = overflow. 10 counts in each of 0,1 and 20 in
    // the OVERFLOW bucket — so p50 has rank 20 landing exactly at the
    // top of bucket 1, and p99 falls in overflow where there is no
    // upper bound to interpolate toward: it must CLAMP to 30 (the
    // Prometheus histogram_quantile rule), never extrapolate
    val b = Seq(("s", 0L, 10L), ("s", 1L, 10L), ("s", 3L, 20L))
      .toDF("series", "k", "cnt")
    val got = MetricsOps.explicitQuantiles(b, Seq(col("series")), col("k"),
      col("cnt"), Seq(0.25, 0.5, 0.99), Seq(10.0, 20.0, 30.0)).collect().head
    assert(got.getAs[Long]("n") == 40L)
    // bucket 0 interpolates from 0 (not -inf): rank 10 = its top
    assert(got.getAs[Double]("q25") == 10.0)
    assert(got.getAs[Double]("q50") == 20.0)
    assert(got.getAs[Double]("q99") == 30.0)
    // a NEGATIVE (or zero) first bound: interpolating bucket 0 from
    // the hard-coded 0.0 lower edge would run BACKWARDS past its own
    // upper edge — promql (promql/quantile.go bucketQuantile) returns
    // the bucket's upper bound there, and so does graft. Quantiles
    // landing in LATER buckets interpolate normally even when the
    // edges are negative (promql only special-cases bucket 0).
    val negB = Seq(("s", 0L, 10L), ("s", 1L, 10L), ("s", 3L, 20L))
      .toDF("series", "k", "cnt")
    val neg = MetricsOps.explicitQuantiles(negB, Seq(col("series")),
      col("k"), col("cnt"), Seq(0.2, 0.4),
      Seq(-10.0, 20.0, 30.0)).collect().head
    // p20: rank 8 lands in bucket 0 (upper −10 ≤ 0) → clamp to −10
    assert(neg.getAs[Double]("q20") == -10.0)
    // p40: rank 16 lands in bucket 1 → normal interpolation from −10:
    // −10 + ((16 − 10) / 10) · (20 − (−10)) = 8
    assert(neg.getAs[Double]("q40") == 8.0)
    // the SQL twin emits the same clamp branch iff the plan has it
    // ("THEN <b0> ELSE" is the clamp arm — the lo/hi bound-table
    // CASEs also contain "WHEN k = 0" but are followed by "WHEN k=1")
    val twinNeg = MetricsOps.explicitQuantileEstSql("k", "cum", "cnt",
      "total", 0.2, Seq(-10.0, 20.0, 30.0))
    assert(twinNeg.contains("WHEN k = 0 THEN -10.0 ELSE"))
    val twinPos = MetricsOps.explicitQuantileEstSql("k", "cum", "cnt",
      "total", 0.2, Seq(10.0, 20.0, 30.0))
    assert(!twinPos.contains("WHEN k = 0 THEN 10.0 ELSE"))
  }

  test("q_anomaly_mad at MAD=0: constant series flags nothing; a lone spike over a constant base flags exactly once") {
    val spark2 = spark
    import spark2.implicits._
    // the degenerate MAD the robust detector must handle: a series
    // where >half the windows are identical has mad = 0, so the flag
    // rule dev > 3*mad degrades to dev > 0 — a CONSTANT series (all
    // dev 0) must stay quiet, and one spiked window must flag exactly
    // itself, deterministically (no division, no NaN)
    val hourNs = 3600L * 1000000000L
    val rows =
      (0 until 5).map(h => (h * hourNs, "const", 5.0)) ++
      (0 until 5).map(h => (h * hourNs, "spike", if (h == 3) 100.0 else 5.0))
    val dir = java.nio.file.Files.createTempDirectory("madq").toString
    rows.toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_anomaly_mad")(spark, dir)
      .select(col("event_type"), col("bucket"), col("mad"), col("anomaly"))
      .collect()
    val const = out.filter(_.getString(0) == "const")
    assert(const.length == 5 && const.forall(!_.getBoolean(3)))
    assert(const.forall(_.getDouble(2) == 0.0))
    val spike = out.filter(_.getString(0) == "spike")
    assert(spike.count(_.getBoolean(3)) == 1)
    assert(spike.filter(_.getBoolean(3)).head.getLong(1) == 3L)
  }

  test("exp-histogram quantile estimates stay within one base-2 bucket of exact percentiles") {
    // the estimate's defining error bound: rank q·N lands in the same
    // (or, at a rank-convention tie, an adjacent) bucket as the exact
    // quantile value, and base-2 bucket bounds are a factor 2 apart —
    // so estimate/exact is confined to [1/4, 4]
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      .filter(col("value") > 0)
    val buckets = ev
      .withColumn("k", MetricsOps.expBucket(col("value"), -4, 12))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("cnt"))
    val est = MetricsOps.expQuantiles(buckets, Seq(col("event_type")),
        col("k"), col("cnt"), Seq(0.5, 0.9, 0.99), -4, 12)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val exact = MetricsOps.summaryQuantiles(ev, Seq(col("event_type")),
        col("value"), Seq(0.5, 0.9, 0.99))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(est.keySet == exact.keySet && est.nonEmpty)
    exact.foreach { case (series, (e50, e90, e99)) =>
      val (a50, a90, a99) = est(series)
      assert(a50 <= a90 && a90 <= a99, s"$series: estimates not monotone")
      for (((a, e), q) <- Seq(a50 -> e50, a90 -> e90, a99 -> e99)
             .zip(Seq("q50", "q90", "q99"))) {
        assert(a / e >= 0.25 && a / e <= 4.0,
          s"$series $q: estimate $a vs exact $e outside the bucket bound")
      }
    }
  }

  test("minhash estimate tracks true jaccard on random overlapping sets") {
    val base = (0 until 60).map(i => s"sh$i")
    samples(Gen.chooseNum(0, 50), 10).foreach { overlap =>
      val aSet = base.take(50)
      val bSet = base.slice(50 - overlap, 100 - overlap).take(50)
      val trueJ = (aSet.toSet & bSet.toSet).size.toDouble / (aSet.toSet | bSet.toSet).size
      val df = Seq((1L, aSet), (2L, bSet)).toDF("id", "shs")
      val sig = df.select(col("id"), DedupOps.minhashSignature(col("shs"), 128).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val est = sig(1L).zip(sig(2L)).count { case (x, y) => x == y }.toDouble / 128
      assert(math.abs(est - trueJ) <= 0.2, s"overlap=$overlap est=$est true=$trueJ")
    }
  }

  test("HLL sketch: shard-merge equals the direct sketch exactly; error inside 4 sigma") {
    import graft.operators.SketchOps
    val values = (0 until 5000).map(i => (s"val_$i", i % 4))
    val df = values.toDF("v", "shard")
    def denomOf(d: org.apache.spark.sql.DataFrame): Long =
      d.select(col("denom")).first().getLong(0)
    val direct = SketchOps.hllDenom(
      SketchOps.hllBucketMax(df, Seq.empty, col("v")), Seq.empty)
    // merge path: sketch each shard independently, combine bucket
    // maxima by max — MUST be bit-identical to the direct sketch,
    // whatever the sharding (the mergeability contract).
    val merged = SketchOps.hllDenom(
      SketchOps.hllBucketMax(df, Seq("shard"), col("v"))
        .groupBy(col("bucket")).agg(max(col("mrho")).as("mrho")),
      Seq.empty)
    assert(denomOf(direct) == denomOf(merged), "shard merge diverged from direct sketch")
    val est = direct
      .select((SketchOps.hllNumerator / col("denom").cast("double")).as("e"))
      .first().getDouble(0)
    // std error 1.04/sqrt(256) ~ 6.5%; 4 sigma = 26%
    assert(math.abs(est - 5000.0) / 5000.0 < 0.26, s"HLL estimate $est for 5000 distinct")
  }

  test("count-min estimate never underestimates; exact for most terms at low load") {
    import graft.operators.SketchOps
    val freqs = (0 until 300).map(i => s"term_$i" -> (i % 17 + 1))
    val tok = freqs.flatMap { case (t, n) => Seq.fill(n)(t) }.toDF("term")
    val cells = tok.select(explode(array((0 to 3).map(lit): _*)).as("lane"), col("term"))
      .select(col("lane"), SketchOps.cmBucket(col("lane"), col("term"), 1024).as("bucket"))
      .groupBy(col("lane"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    var exactHits = 0
    for ((t, n) <- freqs) {
      val est = (0 to 3).map { lane =>
        val b = spark.range(1)
          .select(SketchOps.cmBucket(lit(lane), lit(t), 1024)).first().getLong(0)
        cells((lane, b))
      }.min
      assert(est >= n, s"$t: CM $est under true $n — impossible by construction")
      if (est == n) exactHits += 1
    }
    // 300 terms over 4 x 1024 buckets: collisions in ALL four lanes
    // simultaneously are rare — most estimates are exact
    assert(exactHits >= 285, s"only $exactHits/300 exact at low load")
  }

  test("contentType: empty and NULL text both read prose") {
    // 0 ≥ 0 satisfied the code-density test before the review wave,
    // routing empty docs to the code pipeline while NULL fell
    // through to prose — the two must agree
    val got = Seq(("", "e"), (null: String, "n"), ("plain words here", "p"))
      .toDF("t", "k")
      .select(col("k"), graft.operators.TextOps.contentType(col("t")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("e") == "prose" && got("n") == "prose" && got("p") == "prose")
  }

  test("urlCanon: each messy-URL surgery rule matches its closed form") {
    import graft.operators.TextOps
    val cases = Seq(
      // every rule at once: case, www, default port, slash, utm, sort, fragment
      ("HTTP://WWW.Example.COM:80/a/?b=2&utm_source=x&a=1#frag",
        "http://example.com/a?a=1&b=2"),
      ("https://Example.com:443/p", "https://example.com/p"),
      // NON-default port survives (https on 80, http on 443, explicit 8080)
      ("https://example.com:80/p", "https://example.com:80/p"),
      ("http://example.com:443/p", "http://example.com:443/p"),
      ("http://example.com:8080/p/?utm_campaign=z", "http://example.com:8080/p"),
      // param sort is lexicographic on the whole k=v token
      ("HTTPS://www.Sub.Host.ORG/x?z=1&y=2", "https://sub.host.org/x?y=2&z=1"),
      // root slash is KEPT (stripping it would fabricate an empty path)
      ("http://example.com/", "http://example.com/"),
      // empty path stays empty; all-tracking query drops the '?' too
      ("http://example.com?utm_a=1", "http://example.com"),
      ("http://example.com/p?utm_a=1&utm_b=2", "http://example.com/p"),
      // RFC 3986: '?' is LEGAL inside a fragment — the fragment must
      // drop whole, never resurrect as a query (review-wave finding)
      ("http://example.com/p#sec?a=1", "http://example.com/p"),
      ("http://example.com/p?b=2#sec?a=1", "http://example.com/p?b=2"))
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), TextOps.urlCanon(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw) == want, s"canon($raw) = ${got(raw)}, want $want")
    }
    // idempotence: canonicalizing a canonical URL is the identity
    val twice = cases.map(_._2).toDF("u")
      .select(col("u"), TextOps.urlCanon(col("u")).as("c"))
      .collect().filter(r => r.getString(0) != r.getString(1))
    assert(twice.isEmpty,
      s"urlCanon not idempotent on: ${twice.map(_.getString(0)).mkString(", ")}")
  }

  test("urlCanon property: random component-built URLs canonicalize to the component expectation; idempotent") {
    import graft.operators.TextOps
    // generator over the component space: every rule axis varies
    val gen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("a.example.com", "Sub.Host.ORG", "X1.io")
      port <- Gen.oneOf("", ":80", ":443", ":8080", ":9")
      path <- Gen.oneOf("", "/", "/p", "/a/b", "/a/b/")
      params <- Gen.someOf(Seq("a=1", "b=2", "utm_source=x", "utm_b=y", "z=0"))
      shuffledParams <- Gen.const(params) // order = generation order
      frag <- Gen.oneOf("", "#top", "#s1")
    } yield {
      val q = if (shuffledParams.isEmpty) "" else "?" + shuffledParams.mkString("&")
      val raw = s"$scheme://$www$host$port$path$q$frag"
      // expected canon built from COMPONENTS (not string surgery)
      val sc = scheme.toLowerCase
      val h = host.toLowerCase
      val pc = if ((sc == "http" && port == ":80") ||
        (sc == "https" && port == ":443") || port == "") "" else port
      val pathC = if (path.endsWith("/") && path.length > 1)
        path.dropRight(1) else path
      val keep = shuffledParams.filterNot(_.startsWith("utm_")).sorted
      val qc = if (keep.isEmpty) "" else "?" + keep.mkString("&")
      (raw, s"$sc://$h$pc$pathC$qc")
    }
    val cases = samples(gen, 120).distinct
    assert(cases.size >= 80, s"generator degenerated: ${cases.size}")
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), TextOps.urlCanon(col("u")).as("c"),
        TextOps.urlCanon(TextOps.urlCanon(col("u"))).as("cc"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw)._1 == want, s"canon($raw) = ${got(raw)._1}, want $want")
      assert(got(raw)._2 == got(raw)._1, s"not idempotent on $raw")
    }
  }

  test("q_pii_redact closed form: each mask class fires on its planted doc, order keeps the generic rule off the specifics") {
    // doctored corpus with hand-computable redactions: doc 6 plants
    // every class (even → ip, %3==0 → phone), doc 1 neither extra;
    // the synthesis appends ' contact userN@srcX.com ref R' always
    val dir = java.nio.file.Files.createTempDirectory("pii_closed").toString
    Seq((1L, "plain words only", "en", "srca", 16L),
        (6L, "call me maybe", "en", "srcb", 13L),
        (19L, "edge dweller", "en", "srcc", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_pii_redact")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("chars_removed"),
          r.getAs[Long]("n_email_docs"), r.getAs[Long]("n_ip_docs"),
          r.getAs[Long]("n_phone_docs")))).toMap
    // Java-side replication of the SAME shared mask chain — an
    // independent execution path (String.replaceAll, no codegen)
    // over the identical TextOps regex consts, so a regex edit that
    // drifts the two engines apart breaks here first
    import graft.operators.TextOps
    def scrub(s: String): String =
      s.replaceAll(TextOps.PiiEmailRe, "<EMAIL>")
        .replaceAll(TextOps.PiiIpRe, "<IP>")
        .replaceAll(TextOps.PiiPhoneRe, "<PHONE>")
        .replaceAll("[0-9]{3,}", "<NUM>")
    // doc 1 (srca): synth = text + " contact user1@srca.com ref 7919"
    //   email → <EMAIL>, "7919" → <NUM>
    val s1 = "plain words only contact user1@srca.com ref 7919"
    val r1 = scrub(s1)
    assert(got("srca") == ((1L, (s1.length - r1.length).toLong, 1L, 0L, 0L)),
      got("srca").toString)
    // doc 6 (srcb): ip 6.42.78.174, phone +10000186 — all five
    // classes fire and the audit counts read (1,1,1)
    val s6 = "call me maybe contact user6@srcb.com ref 7514" +
      " ip 6.42.78.174 call +10000186"
    val r6 = scrub(s6)
    assert(r6.contains("<IP>") && r6.contains("<PHONE>") &&
      r6.contains("<EMAIL>"), r6)
    assert(got("srcb") == ((1L, (s6.length - r6.length).toLong, 1L, 1L, 1L)),
      got("srcb").toString)
    // doc 19 (srcc): BOTH r18 boundary branches fire (19 ≡ 4 mod 5 →
    // the out-of-range fake address; 19 ≡ 5 mod 7 → the mixed-case
    // dotted email) and neither legacy extra (odd, 19 % 3 ≠ 0):
    // 999.1.2.3 must NOT read as <IP> (its 999 still redacts as
    // <NUM>), the multi-label email MUST read as <EMAIL>
    val s19 = "edge dweller contact user19@srcc.com ref 461" +
      " node 999.1.2.3 mail First.Last+tag19@Sub.Example.co.uk"
    val r19 = scrub(s19)
    assert(!r19.contains("<IP>") && r19.contains("<NUM>.1.2.3"), r19)
    assert(r19.contains("mail <EMAIL>"), r19)
    assert(got("srcc") == ((1L, (s19.length - r19.length).toLong, 1L, 0L, 0L)),
      got("srcc").toString)
  }

  test("piiScrub boundary semantics: octet bounds, multi-label domains, the <NUM> backstop") {
    import graft.operators.TextOps
    val in = Seq(
      "a 255.255.255.255 b",  // max in-range address → <IP>
      "a 256.1.1.1 b",        // first octet out of range → no <IP>
      "a 999.1.1.1 b",        // way out of range → no <IP>
      "a 10.0.0.0 b",         // zeros are in range → <IP>
      "mail User.Name+tag@Example.co.uk x",  // dotted/+/multi-label → <EMAIL>
      "mail UPPER@CASE.COM x",               // case-insensitive → <EMAIL>
      "call 555-123-4567 x")  // national format: no <PHONE>, but the
                              // digit-run backstop leaves no clear digits
      .toDF("t").withColumn("r", TextOps.piiScrub(col("t")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(in("a 255.255.255.255 b") == "a <IP> b")
    assert(!in("a 256.1.1.1 b").contains("<IP>"), in("a 256.1.1.1 b"))
    assert(!in("a 999.1.1.1 b").contains("<IP>"), in("a 999.1.1.1 b"))
    assert(in("a 10.0.0.0 b") == "a <IP> b")
    assert(in("mail User.Name+tag@Example.co.uk x") == "mail <EMAIL> x")
    assert(in("mail UPPER@CASE.COM x") == "mail <EMAIL> x")
    val nat = in("call 555-123-4567 x")
    assert(!nat.contains("<PHONE>") && !nat.exists(_.isDigit), nat)
  }

  test("q_text_fix closed form: every mojibake class repairs to its original char, clean docs pass byte-identical") {
    // doctored corpus: doc 7 (≡ 0 mod 7) gains the planted suffix —
    // the repair must collapse each digraph/trigraph to its 1-char
    // original; doc 1 stays untouched and byte-identical
    val dir = java.nio.file.Files.createTempDirectory("moji_closed").toString
    Seq((1L, "clean ascii text", "en", "srca", 16L),
        (7L, "broken feed", "en", "srcb", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_fix")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_mojibake_docs"),
          r.getAs[Long]("chars_recovered"), r.getAs[Long]("n_clean"),
          r.getAs[Long]("n_clean_identical")))).toMap
    // the planted suffix carries five 2-char digraphs (Ã© Ã¨ Ã¼ Ã±
    // Ã§ → 1 char each: 5 recovered) and three 3-char trigraphs
    // (â€™ â€œ â€+201D → 1 char each: 6 recovered) — 11 chars total
    assert(got("srcb") == ((1L, 1L, 11L, 0L, 0L)), got("srcb").toString)
    // the clean doc: no doctoring, repair is a byte-level no-op
    assert(got("srca") == ((1L, 0L, 0L, 1L, 1L)), got("srca").toString)
    // and the repaired string is EXACTLY the re-decoded original:
    // an INDEPENDENT derivation — encode the clean string to UTF-8
    // bytes, misread them as latin-1/cp1252 (the corruption), and
    // assert the planted suffix IS that corruption, so the census
    // above measured a true repair (cp1252 maps 0x80/0x94/0x99/0x9C to
    // \u20AC/\u201D/\u2122/\u0153; all other bytes here are latin-1)
    val clean = " caf\u00E9 \u00E8\u00FC\u00F1\u00E7 \u2019\u201C\u2014 fin"
    val cp1252 = Map(0x80 -> '\u20AC', 0x99 -> '\u2122',
      0x94 -> '\u201D', 0x9C -> '\u0153')
    val corrupted = clean.getBytes("UTF-8").map { b =>
      val u = b & 0xFF
      cp1252.getOrElse(u, u.toChar)
    }.mkString
    val planted = " caf\u00C3\u00A9 \u00C3\u00A8\u00C3\u00BC\u00C3\u00B1\u00C3\u00A7" +
      " \u00E2\u20AC\u2122\u00E2\u20AC\u0153\u00E2\u20AC\u201D fin"
    assert(corrupted == planted, s"corruption model drifted: $corrupted")
  }

  test("normalizeConfusables folds each class and leaves clean ASCII untouched") {
    import graft.operators.TextOps
    val cases = Seq(
      ("don\u2019t \u2018x\u2019 \u02BCy", "don't 'x' \u0027y".replace("\u0027", "'")),
      ("\u201Cquoted\u201D", "\"quoted\""),
      ("a\u2012b\u2013c\u2014d", "a-b-c-d"),
      ("non\u00A0breaking", "non breaking"),
      ("ze\u200Bro\u200Cwi\u200Ddth\uFEFF!", "zerowidth!"),
      ("plain ascii -- 'quotes' \"stay\"", "plain ascii -- 'quotes' \"stay\""))
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), TextOps.normalizeConfusables(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw) == want, s"normalize($raw) = ${got(raw)}, want $want")
    }
  }

  test("viterbiSegment property: the expression matches a plain-Scala DP on random words") {
    import graft.functions.HashExprs.unigram_apply
    val pieces = Seq("a" -> -1.5, "b" -> -2.0, "c" -> -2.5, "ab" -> -2.2,
      "bc" -> -2.4, "abc" -> -3.5, "ca" -> -9.0, "aaa" -> -4.0)
    val lp = pieces.toMap
    val maxLen = 3
    def refSegment(w: String): Seq[String] = {
      val n = w.length
      val dp = Array.fill(n + 1)(Double.NegativeInfinity); dp(0) = 0.0
      val back = new Array[Int](n + 1)
      for (i <- 1 to n) {
        back(i) = 0
        for (j <- 1 to math.min(maxLen, i); l <- lp.get(w.substring(i - j, i))) {
          val c = dp(i - j) + l
          if (c > dp(i)) { dp(i) = c; back(i) = j }
        }
        if (back(i) == 0) { dp(i) = dp(i - 1) - 1e9; back(i) = 1 }
      }
      var segs = List.empty[String]; var p = n
      while (p > 0) { segs = w.substring(p - back(p), p) :: segs; p -= back(p) }
      segs
    }
    // random words over {a,b,c,z} — z is always the unk fallback
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c', 'z'))
      .map(_.mkString.take(12))
    val words = samples(wordGen, 150).distinct.filter(_.nonEmpty)
    assert(words.size >= 60)
    val got = words.toDF("w")
      .select(col("w"), unigram_apply(col("w"), pieces, maxLen).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    words.foreach { w =>
      assert(got(w) == refSegment(w).toList,
        s"segment($w): ${got(w)} vs reference ${refSegment(w)}")
    }
  }

  test("char_trigrams equals the split-array SQL formulation byte-for-byte (incl. unicode, surrogate pairs, short strings)") {
    // the r18 native trigram kernel replaced the TriGenSql fragment
    // behind langTris + q_langid_prefix — this is the parity pin the
    // kernel's scaladoc points at: identical output to the old
    // split(text,'')-array + transform formulation on every input
    // class that could segment differently
    val legacy = """element_at(transform(array(named_struct('ca', split(t, ''))), s ->
      |  transform(sequence(1, size(s.ca) - 2), i ->
      |    concat(element_at(s.ca, i), element_at(s.ca, i + 1), element_at(s.ca, i + 2)))), 1)"""
      .stripMargin
    val cases = Seq(
      "the quick brown fox", "abc", "abcd", "a b", "  spaced  text ",
      "héllo wörld", "don’t “quote”",
      "zero​width﻿join", "mix😀emoji😁x",
      "😀😁😂😃", "xx", "",
      "中文语料库")
    val strGen = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.const(' ')),
      (1, Gen.oneOf('é', '中', '​')))).map(_.mkString.take(40))
    val all = (cases ++ samples(strGen, 120)).filter(_.length >= 3)
    val got = all.toDF("t")
      .select(col("t"),
        graft.functions.HashExprs.char_trigrams(col("t")).as("k"),
        expr(legacy).as("l"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"trigram drift on '${r.getString(0)}': " +
          s"kernel=${r.getSeq[String](1)} legacy=${r.getSeq[String](2)}")
    }
    // the < 3-character classes the legacy sequence() form never sees
    // cleanly: the kernel must yield EMPTY, matching the callers'
    // length(text) >= 3 guard semantics
    val short = Seq("", "a", "ab", "😀😁").toDF("t")
      .select(graft.functions.HashExprs.char_trigrams(col("t")).as("k"))
      .collect()
    short.foreach(r => assert(r.getSeq[String](0).isEmpty))
  }

  test("winnow_packed equals an independent Scala winnowing reference (md5 grams, window-4 min, first-occurrence distinct), order included") {
    // the r19 kernel behind winnowSelect / winnowAnchorSel /
    // winnowAnchorsExpr: distinct packed keys c = h·2^21 + (2^21−1−pos)
    // over window-4 minima of md5-hashed 4-gram fingerprints — must
    // match a straight-Scala port of the OLD gram-explode + window-MIN
    // SQL formulation exactly, including element order (streaming
    // consumers see the array)
    val POSCAP = 1L << 21
    def refWinnow(tokens: Seq[String]): Seq[Long] = {
      val nG = tokens.length - 3
      if (nG < 4) return Seq.empty
      val md = java.security.MessageDigest.getInstance("MD5")
      val c = (1 to nG).map { i =>
        val gram = tokens.slice(i - 1, i + 3).mkString(" ")
        val d = md.digest(gram.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        h * POSCAP + (POSCAP - 1 - i)
      }
      (1 to nG - 3).map(p => c.slice(p - 1, p + 3).min).distinct
    }
    // repetition-heavy token streams (small alphabet) force duplicate
    // window minima — the dedup path; plus unicode tokens and the
    // 7/8-token full-window edges
    val tokGen = Gen.listOf(Gen.frequency(
      (6, Gen.oneOf("a", "b", "c", "dup", "x1")),
      (3, word), (1, Gen.oneOf("héllo", "中文", "😀")))).map(_.take(60))
    val cases = samples(tokGen, 150) ++ Seq(
      List.fill(20)("same"), (1 to 7).map(i => s"w$i").toList,
      (1 to 8).map(i => s"w$i").toList, List("a", "b"), Nil)
    val got = cases.zipWithIndex.map { case (ws, i) => (i, ws) }
      .toDF("i", "ws")
      .select(col("i"),
        graft.functions.HashExprs.winnow_packed(col("ws")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    cases.zipWithIndex.foreach { case (ws, i) =>
      assert(got(i) == refWinnow(ws),
        s"winnow drift on case $i (${ws.take(12)}...): ${got(i)} != ${refWinnow(ws)}")
    }
  }

  test("extend_spans kernel equals the interpreted SQL fold it replaced, span for span") {
    // the r19 native extension verify vs the OLD SQL aggregate
    // (kept here verbatim as the reference): same doc pairs, same
    // anchors — the emitted (start_a, start_b, span_len) multisets
    // must match on a corpus doctored to exercise every fold branch
    // (multiple diagonals, covered anchors, sub-minLen spans that
    // advance the frontier, intra-doc repetition, near-mirror pairs)
    val spanFold =
      """aggregate(
        |  array_sort(anchors, (l, r) -> CASE
        |    WHEN l.pa - l.pb < r.pa - r.pb THEN -1
        |    WHEN l.pa - l.pb > r.pa - r.pb THEN 1
        |    WHEN l.pa < r.pa THEN -1
        |    WHEN l.pa > r.pa THEN 1
        |    ELSE 0 END),
        |  named_struct('d', CAST(NULL AS BIGINT), 'e', CAST(-1 AS BIGINT),
        |    'spans', CAST(array() AS
        |      ARRAY<STRUCT<start_a: BIGINT, start_b: BIGINT, span_len: BIGINT>>)),
        |  (acc, x) -> CASE
        |    WHEN acc.d IS NOT NULL AND x.pa - x.pb = acc.d AND x.pa <= acc.e
        |      THEN acc
        |    WHEN NOT (slice(za, cast(x.pa as int), 4) = slice(zb, cast(x.pb as int), 4))
        |      THEN named_struct('d', x.pa - x.pb,
        |        'e', IF(acc.d IS NOT NULL AND x.pa - x.pb = acc.d, acc.e, CAST(-1 AS BIGINT)),
        |        'spans', acc.spans)
        |    ELSE element_at(transform(array(named_struct(
        |        'ml', IF(acc.d IS NOT NULL AND x.pa - x.pb = acc.d AND acc.e >= 0,
        |                 least(x.pa - acc.e - 2, least(x.pa, x.pb) - 1),
        |                 least(x.pa, x.pb) - 1),
        |        'mr', least(size(za) - (x.pa + 3), size(zb) - (x.pb + 3)))), b ->
        |      element_at(transform(array(named_struct(
        |          'le', IF(b.ml < 1, CAST(0 AS BIGINT),
        |            aggregate(sequence(1L, b.ml), CAST(-1 AS BIGINT),
        |              (a, i) -> IF(a >= 0, a,
        |                IF(element_at(za, cast(x.pa - i as int)) = element_at(zb, cast(x.pb - i as int)),
        |                   CAST(-1 AS BIGINT), i)),
        |              a -> IF(a >= 0, a - 1, b.ml))),
        |          're', IF(b.mr < 1, CAST(0 AS BIGINT),
        |            aggregate(sequence(1L, b.mr), CAST(-1 AS BIGINT),
        |              (a, i) -> IF(a >= 0, a,
        |                IF(element_at(za, cast(x.pa + 3 + i as int)) = element_at(zb, cast(x.pb + 3 + i as int)),
        |                   CAST(-1 AS BIGINT), i)),
        |              a -> IF(a >= 0, a - 1, b.mr))))), t ->
        |        named_struct('d', x.pa - x.pb, 'e', x.pa + 3 + t.re,
        |          'spans', acc.spans || array(named_struct(
        |            'start_a', x.pa - t.le, 'start_b', x.pb - t.le,
        |            'span_len', t.le + 4 + t.re)))), 1)), 1)
        |  END,
        |  acc -> acc.spans)""".stripMargin
    val passage = (0 until 30).map(i => s"dup$i").mkString(" ")
    val half = (0 until 10).map(i => s"dup$i").mkString(" ")
    def filler(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val doctored = Seq(
      (1L, s"$passage ${filler("xa", 40)} $half"),          // two diagonals vs 2
      (2L, s"${filler("xb", 20)} $passage ${filler("xc", 10)} $half"),
      (3L, s"$passage $passage ${filler("xd", 20)}"),       // intra-doc repeat
      (4L, passage),                                        // near-mirror of 5
      (5L, s"$passage"),
      (6L, filler("xe", 60)))
    val d = doctored.toDF("doc_id", "text").unionByName(
      Tables(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id") + 1000L as "doc_id", col("text")))
    val toks = graft.DataPipelineQueries.spanTokens(d)
    val sel = graft.DataPipelineQueries.winnowAnchorSel(toks)
    val rare = sel.groupBy(col("h_sel"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") <= 50).select(col("h_sel"))
    val capped = sel.join(rare, "h_sel")
    val pairs = capped.select(col("h_sel"), col("doc_id").as("doc_a"),
        col("pos_sel").as("pa"))
      .join(capped.select(col("h_sel"), col("doc_id").as("doc_b"),
        col("pos_sel").as("pb")), Seq("h_sel"))
      .filter(col("doc_a") < col("doc_b"))
    val grouped = pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(collect_list(struct(col("pa"), col("pb"))).as("anchors"))
    val withToks = grouped
      .join(toks.select(col("doc_id").as("doc_a"), col("__ws").as("za")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("__ws").as("zb")), Seq("doc_b"))
      .localCheckpoint()
    val ref = withToks
      .select(col("doc_a"), col("doc_b"), explode(expr(spanFold)).as("sp"))
      .select(col("doc_a"), col("doc_b"), col("sp.start_a"),
        col("sp.start_b"), col("sp.span_len"))
    val M21 = (1L << 21) - 1
    val kern = withToks
      .select(col("doc_a"), col("doc_b"), explode(
        graft.functions.HashExprs.extend_spans(
          transform(col("anchors"),
            a => shiftleft(a.getField("pa"), 21).bitwiseOR(a.getField("pb"))),
          col("za"), col("zb"))).as("sp"))
      .select(col("doc_a"), col("doc_b"),
        shiftright(col("sp"), 42).as("start_a"),
        shiftright(col("sp"), 21).bitwiseAND(lit(M21)).as("start_b"),
        col("sp").bitwiseAND(lit(M21)).as("span_len"))
    val n = ref.count()
    assert(n > 0, "doctored corpus produced no reference spans")
    assert(kern.count() == n &&
      ref.exceptAll(kern).isEmpty && kern.exceptAll(ref).isEmpty,
      "extend_spans kernel drifted from the SQL fold")
  }

  // the pre-r19 repetitionSignals SQL expression, verbatim — the
  // parity reference for the native kernel that replaced it
  private def legacyRepetitionSignals(ws: String): org.apache.spark.sql.Column = {
    def chunks(k: Int): String =
      s"transform(sequence(1, (size($ws) + ${k - 1}) DIV $k), " +
        s"j -> concat_ws(' ', slice($ws, (j - 1) * $k + 1, $k)))"
    // max over distinct n-grams of run_count × (gram chars minus the
    // n−1 separator spaces); 0 when the doc has no n-gram
    def bestGramChars(n: Int): String =
      s"""IF(size($ws) < $n, CAST(0 AS BIGINT),
         |  element_at(transform(array(named_struct('g',
         |    array_sort(transform(sequence(1, size($ws) - ${n - 1}),
         |      i -> concat_ws(' ', slice($ws, i, $n)))))), t ->
         |    element_at(transform(array(named_struct('st',
         |      filter(sequence(1, size(t.g)),
         |        i -> i = 1 OR element_at(t.g, i) != element_at(t.g, i - 1)))), u ->
         |      aggregate(sequence(1, size(u.st)), CAST(0 AS BIGINT), (a, j) ->
         |        greatest(a,
         |          CAST(IF(j = size(u.st), size(t.g) + 1, element_at(u.st, j + 1))
         |            - element_at(u.st, j) AS BIGINT)
         |          * CAST(length(element_at(t.g, element_at(u.st, j))) - ${n - 1} AS BIGINT)))),
         |      1)), 1))""".stripMargin
    def dupF(l: String) =
      s"CAST(size($l) - size(array_distinct($l)) AS DOUBLE) / CAST(size($l) AS DOUBLE)"
    // zero-char guard: a whitespace-only doc tokenizes to [""] (the
    // pinned cross-engine edge), giving zero line chars / zero token
    // chars — 0/0 would be NULL, dropping the doc from every flag AND
    // from n_clean; such a doc is CLEAN (signal 0.0), on both engines
    def dupCF(l: String) =
      s"IF(length(array_join($l, '')) = 0, CAST(0.0 AS DOUBLE), " +
        s"CAST(length(array_join($l, '')) - length(array_join(array_distinct($l), '')) AS DOUBLE)" +
        s" / CAST(length(array_join($l, '')) AS DOUBLE))"
    def topF(n: Int) =
      s"IF(s.tot = 0, CAST(0.0 AS DOUBLE), " +
        s"CAST(${bestGramChars(n)} AS DOUBLE) / CAST(s.tot AS DOUBLE))"
    // occurrence mass of DUPLICATE n-grams (runs of length >= 2):
    // Σ run_count × (gram chars minus separators) — the same sorted
    // run-length walk as bestGramChars with a summed, thresholded
    // accumulator
    def dupGramChars(n: Int): String =
      s"""IF(size($ws) < $n, CAST(0 AS BIGINT),
         |  element_at(transform(array(named_struct('g',
         |    array_sort(transform(sequence(1, size($ws) - ${n - 1}),
         |      i -> concat_ws(' ', slice($ws, i, $n)))))), t ->
         |    element_at(transform(array(named_struct('st',
         |      filter(sequence(1, size(t.g)),
         |        i -> i = 1 OR element_at(t.g, i) != element_at(t.g, i - 1)))), u ->
         |      aggregate(sequence(1, size(u.st)), CAST(0 AS BIGINT), (a, j) ->
         |        a + element_at(transform(array(
         |          CAST(IF(j = size(u.st), size(t.g) + 1, element_at(u.st, j + 1))
         |            - element_at(u.st, j) AS BIGINT)), rc ->
         |          IF(rc >= 2, rc
         |            * CAST(length(element_at(t.g, element_at(u.st, j))) - ${n - 1} AS BIGINT),
         |            CAST(0 AS BIGINT))), 1))),
         |      1)), 1))""".stripMargin
    def dupNF(n: Int) =
      s"IF(s.tot = 0, CAST(0.0 AS DOUBLE), " +
        s"CAST(${dupGramChars(n)} AS DOUBLE) / CAST(s.tot AS DOUBLE))"
    // a duplicate n-gram CONTAINS a duplicate 5-gram for every n > 5,
    // so the 5-gram mass (bound once in the outer struct) gates the
    // five heavier walks behind a lazy IF — a doc with no duplicate
    // 5-gram (the overwhelming case in a real corpus) pays ONE extra
    // sorted walk for the whole dup-gram family, not six
    def dupHigherF(n: Int) =
      s"IF(s.d5 = 0 OR s.tot = 0, CAST(0.0 AS DOUBLE), " +
        s"CAST(${dupGramChars(n)} AS DOUBLE) / CAST(s.tot AS DOUBLE))"
    expr(
      s"""element_at(transform(array(named_struct(
         |    'l8', ${chunks(8)}, 'l32', ${chunks(32)},
         |    'tot', CAST(length(array_join($ws, '')) AS BIGINT),
         |    'd5', ${dupGramChars(5)})), s ->
         |  named_struct(
         |    'dup_line_frac', ${dupF("s.l8")},
         |    'dup_line_char_frac', ${dupCF("s.l8")},
         |    'dup_para_frac', ${dupF("s.l32")},
         |    'dup_para_char_frac', ${dupCF("s.l32")},
         |    'top_2gram_char_frac', ${topF(2)},
         |    'top_3gram_char_frac', ${topF(3)},
         |    'top_4gram_char_frac', ${topF(4)},
         |    'dup_5gram_char_frac', IF(s.tot = 0, CAST(0.0 AS DOUBLE),
         |      CAST(s.d5 AS DOUBLE) / CAST(s.tot AS DOUBLE)),
         |    'dup_6gram_char_frac', ${dupHigherF(6)},
         |    'dup_7gram_char_frac', ${dupHigherF(7)},
         |    'dup_8gram_char_frac', ${dupHigherF(8)},
         |    'dup_9gram_char_frac', ${dupHigherF(9)},
         |    'dup_10gram_char_frac', ${dupHigherF(10)})), 1)""".stripMargin)
  }

  test("repetition_signals kernel equals the legacy SQL expression field-for-field (repetition-heavy, unicode, short docs, sf corpus)") {
    val tokGen = Gen.listOf(Gen.frequency(
      (5, Gen.oneOf("a", "bb", "ccc", "dup", "x")),
      (3, word), (1, Gen.oneOf("h\u00e9llo", "\u4e2d\u6587", "\ud83d\ude00")))).map(_.take(80))
    val cases = samples(tokGen, 120) ++ Seq(List(),
      List.fill(40)("same"),
      (0 until 40).map(i => s"w${i % 3}").toList,
      List(""), List("one"), (1 to 9).map(_.toString).toList)
    val df = cases.zipWithIndex.map { case (ws, i) => (i, ws) }.toDF("i", "ws")
      .select(col("i"),
        graft.functions.HashExprs.repetition_signals(col("ws")).as("k"),
        legacyRepetitionSignals("ws").as("l"))
    val fields = Seq("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
      "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
      "top_4gram_char_frac", "dup_5gram_char_frac", "dup_6gram_char_frac",
      "dup_7gram_char_frac", "dup_8gram_char_frac", "dup_9gram_char_frac",
      "dup_10gram_char_frac")
    df.collect().foreach { r =>
      val k = r.getStruct(1); val l = r.getStruct(2)
      fields.zipWithIndex.foreach { case (f, fi) =>
        assert(k.isNullAt(fi) == l.isNullAt(fi) &&
          (k.isNullAt(fi) || k.getDouble(fi) == l.getDouble(fi)),
          s"case ${r.getInt(0)} field $f: kernel=${if (k.isNullAt(fi)) "null" else k.getDouble(fi)} " +
            s"legacy=${if (l.isNullAt(fi)) "null" else l.getDouble(fi)}")
      }
    }
    // and on the real corpus: bitwise-equal structs, every doc
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("__ws", graft.operators.TextOps.tokens(col("text")))
      .filter(size(col("__ws")) >= 1)
    val diff = d.select(
        graft.functions.HashExprs.repetition_signals(col("__ws")).as("k"),
        legacyRepetitionSignals("__ws").as("l"))
      .filter(not(col("k") <=> col("l")))
    assert(diff.isEmpty, "kernel drifted from legacy on the sf corpus")
  }

  test("dhash_stub_bits equals the SQL md5 pixel-walk formulation (both tweak variants, pmod edges)") {
    // the r19 native stub decode behind phashBits vs the old Column
    // formulation kept here as the reference (the DuckDB oracle twins
    // the same conv(substring(md5(seed/row/col),1,4),16,10) walk)
    def pix(r: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(
        pmod(col("doc_id"), lit(40)).cast("string"), lit("/"),
        r.cast("string"), lit("/"), c.cast("string"))), 1, 4), 16, 10)
        .cast("long")
    val legacy = transform(sequence(lit(0), lit(63)), b => {
      val row = shiftright(b, 3)
      val c = b.bitwiseAND(lit(7))
      val p1 = pix(row, c) +
        when(expr("(doc_id DIV 40) % 2 = 1") && b === 0, lit(65536L))
          .otherwise(lit(0L))
      (p1 < pix(row, c + 1)).cast("int")
    })
    // spark.range: a non-local source, so both expressions run through
    // codegen instead of constant-folding at plan time; the +7919
    // stride and the raw range cover every seed class and both tweak
    // parities, including ids crossing the 40-boundary
    val got = spark.range(0, 240).toDF("doc_id")
      .unionByName(spark.range(0, 30).select(
        (col("id") * 7919 + 37).as("doc_id")))
      .select(col("doc_id"),
        graft.functions.HashExprs.dhash_stub_bits(col("doc_id")).as("k"),
        legacy.as("l"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"dhash stub drift at doc_id=${r.getLong(0)}")
    }
  }

  test("bits_pack is a bijection of the bit slice and bit_count(xor) of packed words equals elementwise Hamming") {
    val bitsGen = Gen.listOfN(128, Gen.oneOf(0, 1))
    val rows = samples(Gen.zip(bitsGen, bitsGen), 80)
      .map { case (a, b) => (a.toArray, b.toArray) }
    val df = rows.toDF("a", "b")
    import graft.functions.HashExprs.bits_pack
    val ham2 = (0 until 2).map(w =>
      bit_count(bits_pack(col("a"), w * 64, 64)
        .bitwiseXOR(bits_pack(col("b"), w * 64, 64)))).reduce(_ + _)
    val got = df.select(
        graft.functions.VectorExprs.hamming_dist(col("a"), col("b")).as("h"),
        ham2.as("hp"),
        // chunk keys: equal packed 16-bit chunk <=> equal bit slice
        bits_pack(col("a"), 16, 16).as("ka"),
        bits_pack(col("b"), 16, 16).as("kb"),
        (slice(col("a"), 17, 16) === slice(col("b"), 17, 16)).as("same"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1),
        s"hamming drift: elementwise ${r.getInt(0)} vs packed ${r.getInt(1)}")
      assert((r.getLong(2) == r.getLong(3)) == r.getBoolean(4),
        "bits_pack chunk-key equality diverged from bit-slice equality")
    }
  }
}
