package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.KernelPaths.bothPaths
import graft.functions.VectorFunctions
import graft.pipeline.Transforms

/** ScalaCheck-generated property tests (SURVEY.md §5): random NULL
  * injection through the transform chain must never throw and must obey
  * the reference's guard semantics; the native kernels must agree
  * bit-for-bit with the declarative builtin formulations they replaced.
  *
  * Generation is seeded, so the suite is deterministic run-to-run.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    LazyList.iterate(Seed(seed))(_.next)
      .map(s => g.pureApply(Gen.Parameters.default, s)).take(n)

  private val optDouble: Gen[Option[Double]] = Gen.frequency(
    3 -> Gen.const(None),
    2 -> Gen.const(Some(0.0)),
    5 -> Gen.choose(-1e9, 1e9).map(Some(_)))

  test("CFR: never throws under random NULLs; NULL iff cases not > 0, " +
    "else deaths/cases*100 (reference T3 guard)") {
    val rows = sample(Gen.zip(optDouble, optDouble), 400, seed = 7L)
      .zipWithIndex.map { case ((cases, deaths), i) =>
        Row(i.toLong, cases.map(Double.box).orNull, deaths.map(Double.box).orNull)
      }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("total_cases", DoubleType),
      StructField("total_deaths", DoubleType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val out = Transforms.withCaseFatalityRate(df)
      .select("id", "total_cases", "total_deaths", "case_fatality_rate")
      .collect()
    out.foreach { r =>
      val cases = Option(r.getAs[java.lang.Double]("total_cases")).map(_.toDouble)
      val deaths = Option(r.getAs[java.lang.Double]("total_deaths")).map(_.toDouble)
      val cfr = Option(r.getAs[java.lang.Double]("case_fatality_rate")).map(_.toDouble)
      (cases, deaths) match {
        case (Some(c), Some(d)) if c > 0 =>
          assert(cfr.contains(d / c * 100), s"row ${r.getLong(0)}")
        case _ => assert(cfr.isEmpty, s"row ${r.getLong(0)} expected NULL CFR")
      }
    }
  }

  test("vaccination rates: numerator-guarded, divisor NULL/0 falls through " +
    "to NULL (reference T5 quirk) — never throws") {
    val rows = sample(Gen.zip(optDouble, optDouble, optDouble), 400, seed = 11L)
      .zipWithIndex.map { case ((tv, pv, pf), i) =>
        Row(i.toLong, tv.map(Double.box).orNull, pv.map(Double.box).orNull,
          pf.map(Double.box).orNull)
      }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("total_vaccinations", DoubleType),
      StructField("people_vaccinated", DoubleType),
      StructField("people_fully_vaccinated", DoubleType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val out = Transforms.withVaccinationRates(df).collect()
    out.foreach { r =>
      val pv = Option(r.getAs[java.lang.Double]("people_vaccinated"))
      val rate = Option(r.getAs[java.lang.Double]("vaccination_rate"))
      if (pv.isEmpty) assert(rate.isEmpty, "guard checks numerator only")
    }
  }

  test("vec_dot / vec_l2sq match the zip_with+aggregate fold, including " +
    "null elements and length mismatches") {
    val vec: Gen[Seq[Option[Double]]] = for {
      n <- Gen.choose(0, 8)
      xs <- Gen.listOfN(n, Gen.frequency(
        1 -> Gen.const(None),
        9 -> Gen.choose(-100.0, 100.0).map(Some(_))))
    } yield xs
    val rows = sample(Gen.zip(vec, vec), 300, seed = 13L)
      .zipWithIndex.map { case ((a, b), i) =>
        Row(i.toLong, a.map(_.map(Double.box).orNull),
          b.map(_.map(Double.box).orNull))
      }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    def fold(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column) =
      aggregate(zip_with(col("a"), col("b"), f), lit(0.0), (acc, v) => acc + v)
    val out = bothPaths(df.select(
      VectorFunctions.dot(col("a"), col("b")).as("native_dot"),
      fold((x, y) => x * y).as("hof_dot"),
      VectorFunctions.l2sq(col("a"), col("b")).as("native_l2"),
      fold((x, y) => (x - y) * (x - y)).as("hof_l2")),
      "native_dot", "native_l2")
    out.foreach { r =>
      assert(Option(r.get(r.fieldIndex("native_dot")))
        == Option(r.get(r.fieldIndex("hof_dot"))), s"dot mismatch: $r")
      assert(Option(r.get(r.fieldIndex("native_l2")))
        == Option(r.get(r.fieldIndex("hof_l2"))), s"l2 mismatch: $r")
    }
  }

  test("asof join matches a reference max-prior-purchase computation, " +
    "including simultaneous-timestamp ties") {
    val ev: Gen[(Long, Int, Boolean)] = for {
      user <- Gen.choose(1L, 5L)
      t <- Gen.choose(0, 20) // coarse grid -> frequent exact-ts ties
      isClick <- Gen.oneOf(true, false)
    } yield (user, t, isClick)
    val evs = sample(ev, 300, seed = 31L).zipWithIndex.map {
      case ((u, t, c), i) =>
        (i.toLong, new java.sql.Timestamp(86400000L + t * 60000L), u,
          if (c) "click" else "purchase", 1.0)
    }
    import spark.implicits._
    val df = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.Joins.asofJoinOn(df).collect()
      .map(r => r.getAs[Long]("event_id")
        -> Option(r.getAs[java.sql.Timestamp]("purchase_ts"))).toMap
    val purchases = evs.filter(_._4 == "purchase")
    evs.filter(_._4 == "click").foreach { case (id, ts, u, _, _) =>
      val expected = purchases
        .filter(p => p._3 == u && !p._2.after(ts))
        .map(_._2).sortBy(_.getTime).lastOption
      assert(got(id) == expected, s"click $id")
    }
  }

  test("ngram jaccard explode-join equals brute-force pairwise jaccard " +
    "on random overlapping corpora") {
    val doc: Gen[String] = for {
      n <- Gen.choose(3, 25)
      // small vocab -> heavy cross-doc shingle overlap
      ws <- Gen.listOfN(n, Gen.choose(0, 8).map(i => s"w$i"))
    } yield ws.mkString(" ")
    val texts = sample(doc, 40, seed = 37L)
    import spark.implicits._
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, "en", t) }
      .toDF("doc_id", "lang", "text")
    val got = graft.operators.Dedup
      .ngramJaccardPairsOn(df, threshold = 0.3, maxDf = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))
        -> r.getAs[Double]("jaccard")).toMap
    def sh(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set(t)
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    def bucket(t: String): Long = t.split(" ", -1).length / 32
    val expected = (for {
      i <- texts.indices; j <- texts.indices if i < j
      if bucket(texts(i)) == bucket(texts(j))
      a = sh(texts(i)); b = sh(texts(j))
      jac = (a intersect b).size.toDouble / (a union b).size
      if jac >= 0.3
    } yield (i.toLong, j.toLong) -> jac).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    expected.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"$k") }
  }

  test("simhash64 kernel matches the aggregate/zip_with vote formulation") {
    val word: Gen[String] = Gen.frequency(
      8 -> Gen.choose(0, 30).map(i => s"tok$i"), 1 -> Gen.const(""))
    val text: Gen[String] = for {
      n <- Gen.choose(0, 30); ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val rows = sample(text, 150, seed = 23L)
      .zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val votes = aggregate(
      split(col("text"), " "),
      array_repeat(lit(0L), 64),
      (acc, w) => zip_with(acc,
        transform(sequence(lit(0), lit(63)), j =>
          when(call_function("shiftright", xxhash64(w), j)
            .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
        (a, v) => a + v))
    val packed = aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, j) => when(v > 0, call_function("shiftleft", lit(1L), j))
          .otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    val out = bothPaths(graft.operators.Dedup.simhashOn(df)
      .join(df.select(col("doc_id"), packed.as("hof")), "doc_id"),
      "doc_id", "simhash")
    out.foreach(r => assert(
      r.getAs[Long]("simhash") == r.getAs[Long]("hof"), s"doc ${r.getLong(0)}"))
  }

  test("emb_sign_bands kernel matches per-plane dot-product sign packing") {
    import graft.functions.Hyperplanes
    val vec: Gen[Seq[Double]] =
      Gen.listOfN(64, Gen.choose(-1.0, 1.0)).map(_.toSeq)
    val vecs = sample(vec, 60, seed = 29L)
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.map(Double.box))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val got = bothPaths(df.selectExpr("vec_id", "emb_sign_bands(v) AS bands"))
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val expected = (0 until Hyperplanes.Bands).map { band =>
        (0 until Hyperplanes.RowsPerBand).map { r =>
          val plane = Hyperplanes.planes(band * Hyperplanes.RowsPerBand + r)
          val dot = v.zip(plane).map { case (x, y) => x * y }.sum
          if (dot > 0) 1 << r else 0
        }.sum
      }
      assert(got(i.toLong) == expected, s"vec $i")
    }
  }

  test("vec_tri_prods matches the nested-transform HOF formulation " +
    "and its position order is the row-major upper triangle") {
    val vec: Gen[Seq[Double]] = for {
      n <- Gen.choose(1, 9)
      xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    } yield xs
    val rows = sample(vec, 200, seed = 29L).zipWithIndex.map {
      case (v, i) => Row(i.toLong, v.map(Double.box))
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val hof = flatten(transform(
      sequence(lit(0), size(col("v")) - 1), i =>
        transform(sequence(i, size(col("v")) - 1), j =>
          element_at(col("v"), i + 1) * element_at(col("v"), j + 1))))
    bothPaths(df.select(VectorFunctions.triProds(col("v")).as("native"),
        hof.as("hof")), "native").foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1), r.toString)
    }
    // position decode (k -> (i, j)) mirrors the spine pcaTopComponent
    // broadcasts: for d = 3 the order must be (0,0)(0,1)(0,2)(1,1)(1,2)(2,2)
    val one = df.sparkSession.sql(
      "SELECT vec_tri_prods(array(2.0d, 3.0d, 5.0d)) AS t").head.getSeq[Double](0)
    assert(one == Seq(4.0, 6.0, 10.0, 9.0, 15.0, 25.0))
  }

  test("ahash64 kernel agrees with the oracle's integer-comparison " +
    "formula on random payloads, and every bit is shift-invariant " +
    "to payload scaling") {
    // the reference mirrors the DuckDB twin: bit b set iff
    // blockSum * n > totalSum * blockLen, blocks [n*b/64, n*(b+1)/64)
    def ref(bytes: Array[Byte]): Long = {
      val n = bytes.length
      if (n == 0) return 0L
      val u = bytes.map(_ & 0xff)
      val total = u.map(_.toLong).sum
      (0 until 64).foldLeft(0L) { (h, b) =>
        val s = (n.toLong * b / 64).toInt
        val e = (n.toLong * (b + 1) / 64).toInt
        val bs = u.slice(s, e).map(_.toLong).sum
        if (bs * n > total * (e - s)) h | (1L << b) else h
      }
    }
    val payload: Gen[Array[Byte]] = for {
      n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.choose(1, 63),
        8 -> Gen.choose(64, 800))
      bs <- Gen.listOfN(n, Gen.choose(0, 255))
    } yield bs.map(_.toByte).toArray
    val payloads = sample(payload, 300, seed = 23L)
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(payloads.zipWithIndex.map { case (p, i) =>
          Row(i.toLong, p) }).asJava),
      StructType(Seq(StructField("id", LongType),
        StructField("p", BinaryType))))
    bothPaths(df.selectExpr("id", "ahash64(p)")).foreach { r =>
      assert(r.getLong(1) == ref(payloads(r.getLong(0).toInt)),
        s"payload ${r.getLong(0)}")
    }
    // doubling every byte (repeat each twice) preserves every block
    // mean when block boundaries are clean (64 | n), so the hash is
    // stable under uniform upsampling — truncate payloads to a
    // 64-multiple to make the invariant exact
    sample(payload, 50, seed = 29L).filter(_.length >= 64).foreach { p0 =>
      val p = p0.take(p0.length - p0.length % 64)
      val doubled = p.flatMap(b => Array(b, b))
      assert(graft.functions.AHashKernel.compute(doubled)
        == graft.functions.AHashKernel.compute(p),
        "uniform 2x upsampling must not change any block's mean ordering")
    }
  }

  test("MisraGries: on random streams every kept estimate is within " +
    "N/(k+1) of truth and every item above N/(k+1) survives, under " +
    "arbitrary chunked merge trees") {
    val k = 7
    val mg = new graft.functions.MisraGries(k)
    val item: Gen[String] = Gen.frequency(
      5 -> Gen.const("hot"), 3 -> Gen.const("warm"),
      4 -> Gen.choose(0, 500).map(i => s"cold$i"))
    val streams = (0 until 20).map(i =>
      sample(item, 400, seed = 100L + i).toList)
    streams.zipWithIndex.foreach { case (s, i) =>
      val truth = s.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = s.size
      // vary the merge-tree shape with the stream index
      val chunk = 30 + (i * 17) % 170
      val summary = s.grouped(chunk).toList
        .map(_.foldLeft(mg.zero)(mg.reduce)).reduce(mg.merge)
      assert(summary.size <= k)
      summary.foreach { case (t, est) =>
        assert(est <= truth(t), s"MG never overestimates: $t $est")
        assert(est >= truth(t) - n / (k + 1),
          s"estimate within N/(k+1): $t est=$est true=${truth(t)}")
      }
      truth.filter(_._2 > n / (k + 1)).keys.foreach { t =>
        assert(summary.contains(t),
          s"item above N/(k+1) must survive: $t in $summary")
      }
    }
  }

  test("ndcg discount literals are locale-proof dot-decimal strings") {
    val d = graft.operators.Retrieval.ndcgDiscounts(20)
    assert(d.forall(_._2.matches("""\d\.\d{6}""")), d.mkString(","))
    assert(d.head._2 == "1.000000")
  }

  test("native functions are callable from SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       vec_l2sq(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS l2,
        |       size(word_shingles('a b c d', 3)) AS n_sh,
        |       ahash64(cast('aaaa' as binary)) AS ah,
        |       simhash64('tok') = xxhash64('tok') AS sh,
        |       word_shingle_hashes('a b c d', 3, true) = array_sort(
        |         array(xxhash64('a b c'), xxhash64('b c d'))) AS wsh,
        |       hashed_set(array('b c d', 'a b c', 'a b c')) = array_sort(
        |         array(xxhash64('a b c'), xxhash64('b c d'))) AS hs,
        |       minhash_bands(array('x'), 1, 1) = array(xxhash64(xxhash64('x')))
        |         AS mb,
        |       size(minhash_bands(array('a b c', 'b c d'), 21, 3)) AS n_mb"""
        .stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
    assert(r.getInt(2) == 2)
    assert(r.getLong(3) == 0L) // constant payload: no block above mean
    // one token: every vote is that token's hash bit
    assert(r.getBoolean(4), "simhash64 of one token is its xxhash64")
    // two distinct shingles, hashed, deduped and ascending
    assert(r.getBoolean(5), "word_shingle_hashes sorted set")
    assert(r.getBoolean(6), "hashed_set")
    // one shingle, one 1-slot band: the key is xxhash64 of its min-hash
    assert(r.getBoolean(7), "minhash_bands of one shingle")
    assert(r.getInt(8) == 21)
    // lm_grams: array of per-position context structs; position 3 of
    // "a b c" carries the full trigram
    val g = spark.sql(
      "SELECT lm_grams('a b c') AS g").collect().head
      .getSeq[Row](0)
    assert(g.length == 3)
    assert(g(2).getAs[String]("g3") == "a b c")
    assert(g(0).getAs[String]("p2") == null)
  }

  test("word_shingles matches the declarative array_distinct/transform " +
    "formulation on random token streams") {
    val word: Gen[String] = Gen.frequency(
      8 -> Gen.choose(0, 30).map(i => s"w$i"),
      1 -> Gen.const(""), // consecutive spaces
      1 -> Gen.const("the"))
    val text: Gen[String] = for {
      n <- Gen.choose(0, 40)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val rows = sample(text, 300, seed = 17L)
      .zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val k = 3
    val w = split(col("text"), " ")
    val declarative = when(size(w) >= k,
      array_distinct(transform(sequence(lit(0), size(w) - k), i =>
        concat_ws(" ", (0 until k).map(j => element_at(w, i + j + 1)): _*))))
      .otherwise(array(col("text")))
    val out = bothPaths(df.select(
      graft.operators.Dedup.shingles(col("text"), k).as("native"),
      declarative.as("hof")), "native")
    out.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"shingle mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
  }

  test("word_shingle_hashes / hashed_set match the declarative " +
    "transform(shingles, xxhash64) chains on random token streams, " +
    "including the short-doc fallback and non-ASCII text") {
    val word: Gen[String] = Gen.frequency(
      8 -> Gen.choose(0, 30).map(i => s"w$i"),
      1 -> Gen.const(""), // consecutive spaces
      1 -> Gen.const("é™"), // multi-byte UTF-8
      1 -> Gen.const("the"))
    val text: Gen[String] = for {
      n <- Gen.choose(0, 40)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val rows = sample(text, 300, seed = 23L)
      .zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    for (k <- Seq(3, 8)) {
      val sh = graft.operators.Dedup.shingles(col("text"), k)
      val out = bothPaths(df.select(
        graft.operators.Dedup.shingleHashes(col("text"), k).as("fusedU"),
        transform(sh, s => xxhash64(s)).as("hofU"),
        graft.operators.Dedup.shingleHashes(col("text"), k, sorted = true)
          .as("fusedS"),
        array_sort(array_distinct(transform(sh, s => xxhash64(s))))
          .as("hofS"),
        graft.operators.Dedup.hashedSet(sh).as("fusedSet")),
        "fusedU", "fusedS", "fusedSet")
      out.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"k=$k unsorted mismatch: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
        assert(r.getSeq[Long](2) == r.getSeq[Long](3),
          s"k=$k sorted mismatch: ${r.getSeq[Long](2)} vs ${r.getSeq[Long](3)}")
        assert(r.getSeq[Long](4) == r.getSeq[Long](3),
          s"k=$k hashed_set mismatch: ${r.getSeq[Long](4)} vs ${r.getSeq[Long](3)}")
      }
    }
  }

  /** The declarative MinHash chain `minhash_bands` replaced: explode the
    * shingles, hash each twice, 63 `min` aggregates per doc_id, then one
    * `xxhash64` per 3-slot band — (doc_id, band, h) rows.
    */
  private def declarativeBands(docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        xxhash64(col("s")).as("h1"), xxhash64(lit(1), col("s")).as("h2"))
    val mins = (0 until 63).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"sig_$i"))
    val sig = ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bandCols = (0 until 21).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until 3).map(r => col(s"sig_${3 * b + r}")): _*).as("h"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.h").as("h"))
  }

  test("minhash_bands matches the explode/63-min-aggregate/xxhash64 band " +
    "chain on random shingle sets, including NULL and empty arrays, NULL " +
    "elements, duplicates and non-ASCII text") {
    val shingle: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.choose(0, 15).map(i => Some(s"w$i w${i + 1} w${i + 2}")),
      1 -> Gen.const(Some("é™ straße ü")),
      1 -> Gen.const(Some("")))
    val set: Gen[Option[Seq[Option[String]]]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some(Nil)),
      2 -> shingle.map(s => Some(Seq(s))),
      6 -> Gen.choose(2, 30).flatMap(Gen.listOfN(_, shingle)).map(Some(_)))
    val edges: Seq[Option[Seq[Option[String]]]] = Seq(None, Some(Nil),
      Some(Seq(None)), Some(Seq(Some("a b c"))),
      Some(Seq(Some("a b c"), Some("a b c"))), Some(Seq(Some("é™ ü"))))
    val rows = (edges ++ sample(set, 300, seed = 31L)).zipWithIndex
      .map { case (a, i) => Row(i.toLong, a.map(_.map(_.orNull)).orNull) }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sh", ArrayType(StringType))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val out = bothPaths(df.select(col("doc_id"), col("sh"),
      expr("minhash_bands(sh, 21, 3)").as("kb")), "doc_id", "kb")
    out.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), s"doc ${r.getLong(0)}")
      else assert(r.getSeq[Long](2).length ==
        (if (r.getSeq[String](1).isEmpty) 0 else 21), s"doc ${r.getLong(0)}")
    }
    val got = out.toSeq.filterNot(_.isNullAt(2)).flatMap(r =>
      r.getSeq[Long](2).zipWithIndex.map { case (h, b) => (r.getLong(0), b, h) })
    val ref = declarativeBands(df).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sorted == ref.sorted)
    val exploded = df.select(col("doc_id"),
      posexplode(expr("minhash_bands(sh, 21, 3)")).as(Seq("band", "h")))
    assert(exploded.schema.map(_.dataType) ==
      Seq(LongType, IntegerType, LongType))
  }

  test("word_ngrams matches the guarded transform/element_at chain on " +
    "random token streams (multiset, order, short-doc empty array)") {
    val word: Gen[String] = Gen.frequency(
      8 -> Gen.choose(0, 12).map(i => s"w$i"), // small domain: many dups
      1 -> Gen.const(""),
      1 -> Gen.const("é™"))
    val text: Gen[String] = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val rows = sample(text, 300, seed = 37L)
      .zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    for (n <- Seq(2, 3)) {
      val out = bothPaths(df
        .withColumn("toks", split(col("text"), " "))
        .select(
          expr(s"word_ngrams(text, $n)").as("kernel"),
          when(size(col("toks")) >= n,
            expr(s"transform(sequence(1, size(toks) - ${n - 1}), i -> " +
              (0 until n).map(j => s"element_at(toks, i + $j)")
                .mkString("concat(", ", ' ', ", ")") + ")"))
            .otherwise(array().cast("array<string>")).as("hof")), "kernel")
      out.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("count_in_set matches size(filter(toks, isInCollection)) on " +
    "random token arrays (incl. empty arrays and NULL elements)") {
    val stop = Seq("the", "a", "of", "und", "la")
    val word: Gen[Option[String]] = Gen.frequency(
      5 -> Gen.choose(0, 20).map(i => Some(s"w$i")),
      3 -> Gen.oneOf(stop).map(Some(_)),
      1 -> Gen.const(Some("")),
      1 -> Gen.const(None)) // NULL element: In -> NULL, filter drops
    val arr: Gen[Seq[Option[String]]] = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, word)
    } yield ws
    val rows = sample(arr, 300, seed = 43L).zipWithIndex.map { case (a, i) =>
      Row(i.toLong, a.map(_.orNull))
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("toks", ArrayType(StringType, containsNull = true))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    import org.apache.spark.sql.graft.ColumnBridge
    val out = bothPaths(df.select(
      ColumnBridge.column(graft.functions.CountInSet(
        ColumnBridge.expression(col("toks")), stop)).as("kernel"),
      size(filter(col("toks"), t => t.isInCollection(stop))).as("hof")),
      "kernel")
    out.foreach { r =>
      assert(r.getInt(0) == r.getInt(1),
        s"count_in_set mismatch: ${r.getInt(0)} vs ${r.getInt(1)}")
    }
  }

  test("wrap_lines matches the declarative slice/concat_ws chain on " +
    "random token streams (incl. empty text, consecutive spaces)") {
    val word: Gen[String] = Gen.frequency(
      8 -> Gen.choose(0, 30).map(i => s"w$i"),
      1 -> Gen.const(""),
      1 -> Gen.const("é™"))
    val text: Gen[String] = for {
      n <- Gen.choose(0, 45)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val rows = sample(text, 300, seed = 41L)
      .zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    for (w <- Seq(1, 10)) {
      import org.apache.spark.sql.graft.ColumnBridge
      val out = bothPaths(df
        .withColumn("w", split(col("text"), " "))
        .select(
          ColumnBridge.column(graft.functions.WrapLines(
            ColumnBridge.expression(col("text")), w)).as("kernel"),
          concat_ws("\n", transform(
            sequence(lit(0), expr(s"(size(w) - 1) div $w").cast("int")),
            i => concat_ws(" ", slice(col("w"), i * w + 1, lit(w)))))
            .as("hof")), "kernel")
      out.foreach { r =>
        assert(r.getString(0) == r.getString(1),
          s"width=$w mismatch: '${r.getString(0)}' vs '${r.getString(1)}'")
      }
    }
  }

  test("ordered_sum matches the interpreted aggregate fold bit-for-bit " +
    "on random double arrays (incl. empty, NULL elements, ±0.0, ±inf)") {
    val elem: Gen[Option[Double]] = Gen.frequency(
      1 -> Gen.const(None), // a NULL element poisons the fold to NULL
      1 -> Gen.const(Some(0.0)),
      1 -> Gen.const(Some(-0.0)),
      1 -> Gen.const(Some(Double.PositiveInfinity)),
      10 -> Gen.choose(-1e12, 1e12).map(Some(_)),
      4 -> Gen.choose(-1e-3, 1e-3).map(Some(_))) // rounding-sensitive mix
    val arr: Gen[Seq[Option[Double]]] = for {
      n <- Gen.choose(0, 24)
      xs <- Gen.listOfN(n, elem)
    } yield xs
    val rows = sample(arr, 400, seed = 31L).zipWithIndex.map { case (a, i) =>
      Row(i.toLong, a.map(_.map(Double.box).orNull))
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vs", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val out = bothPaths(df.select(
      expr("ordered_sum(vs)").as("kernel"),
      aggregate(col("vs"), lit(0.0), (acc, x) => acc + x).as("hof")),
      "kernel")
    out.foreach { r =>
      val k = if (r.isNullAt(0)) None else Some(r.getDouble(0))
      val h = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      // bit-level comparison: -0.0 vs 0.0 and NaN patterns must agree
      assert(k.map(java.lang.Double.doubleToRawLongBits) ==
        h.map(java.lang.Double.doubleToRawLongBits),
        s"ordered_sum mismatch: $k vs $h")
    }
  }

  test("rangeJoinBinned equals the naive theta-join on random intervals, " +
    "points, and bin widths (incl. empty/inverted intervals)") {
    import graft.operators.Joins
    val epoch = java.sql.Timestamp.valueOf("2020-01-01 00:00:00").getTime
    def ts(offSec: Long) = new java.sql.Timestamp(epoch + offSec * 1000)
    val genPoint = Gen.choose(0L, 400L * 86400)
    // interval = (start, signed length): ~1/6 empty, ~1/6 inverted
    val genInterval = Gen.zip(Gen.choose(0L, 400L * 86400),
      Gen.frequency(4 -> Gen.choose(1L, 90L * 86400),
        1 -> Gen.const(0L), 1 -> Gen.choose(-30L * 86400, -1L)))
    for (seed <- Seq(11L, 23L); binDays <- Seq(1, 7, 30, 365)) {
      val pts = sample(genPoint, 60, seed).zipWithIndex
        .map { case (s, i) => Row(i.toLong, ts(s)) }
      val ivs = sample(genInterval, 40, seed + 1).zipWithIndex
        .map { case ((s, len), i) => Row(i.toLong, ts(s), ts(s + len)) }
      import scala.jdk.CollectionConverters.SeqHasAsJava
      val pDf = spark.createDataFrame(
        new java.util.ArrayList[Row](pts.asJava), StructType(Seq(
          StructField("pid", LongType), StructField("pt", TimestampType))))
      val iDf = spark.createDataFrame(
        new java.util.ArrayList[Row](ivs.asJava), StructType(Seq(
          StructField("iid", LongType), StructField("start", TimestampType),
          StructField("end", TimestampType))))
      val binned = Joins
        .rangeJoinBinned(pDf, iDf, "pt", "start", "end", binDays)
        .select("pid", "iid")
      val naive = pDf.join(iDf,
          col("pt") >= col("start") && col("pt") < col("end"))
        .select("pid", "iid")
      assert(binned.exceptAll(naive).isEmpty
        && naive.exceptAll(binned).isEmpty,
        s"mismatch at seed=$seed binDays=$binDays")
    }
  }

  test("pii scrub counts exactly the planted entities and redacts them all " +
    "on random documents") {
    import graft.operators.Privacy
    val letters: Gen[String] = for {
      n <- Gen.choose(3, 8)
      cs <- Gen.listOfN(n, Gen.alphaLowerChar)
    } yield cs.mkString
    // letter-only locals/domains: a digit-leading local part could itself
    // form a dotted quad and legitimately double-count as an IP
    val email: Gen[String] = for {
      l1 <- letters; l2 <- Gen.option(letters)
      d <- letters; tld <- Gen.choose(2, 3).flatMap(n =>
        Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    } yield l2.fold(l1)(x => s"$l1.$x") + s"@$d.$tld"
    val ip: Gen[String] =
      Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
    val phone: Gen[String] = for {
      cc <- Gen.choose(1, 999)
      sep <- Gen.oneOf("-", ".", " ")
      mid <- Gen.choose(100, 999)
      last <- Gen.choose(4, 10).flatMap(n =>
        Gen.listOfN(n, Gen.numChar).map(_.mkString))
    } yield s"+$cc$sep$mid$sep$last"
    val doc: Gen[(String, Int, Int, Int)] = for {
      words <- Gen.choose(5, 15).flatMap(n => Gen.listOfN(n, letters))
      es <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, email))
      is <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, ip))
      ps <- Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, phone))
      // interleave entities between clean words at deterministic offsets
      mixed = {
        val ents = es ++ is ++ ps
        val slots = words.padTo(ents.length, "pad")
        slots.zipAll(ents, "", "").flatMap { case (w, e) =>
          Seq(w, e).filter(_.nonEmpty) }
      }
    } yield (mixed.mkString(" "), es.length, is.length, ps.length)
    val docs = sample(doc, 200, seed = 23L)
    val rows = docs.zipWithIndex.map { case ((t, _, _, _), i) =>
      Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val out = Privacy.scrubOn(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema))
      .orderBy(col("doc_id")).collect()
    out.zip(docs).foreach { case (r, (t, ne, ni, np)) =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((ne, ni, np)),
        s"count mismatch on: $t")
      val red = r.getString(4)
      assert(!red.contains("@") && !red.exists(_ == '+'), s"residual PII: $red")
      assert(!Privacy.Ipv4Re.r.findFirstIn(red).isDefined, s"residual ip: $red")
      assert("<EMAIL>".r.findAllIn(red).size == ne
        && "<IP>".r.findAllIn(red).size == ni
        && "<PHONE>".r.findAllIn(red).size == np, red)
    }
  }

  test("BottomKSample merge law under random split points, sizes, and " +
    "duplicates: any partial merge equals the direct bottom-k") {
    val agg = new graft.functions.BottomKSample(8)
    def build(xs: Seq[(String, Double)]) = xs.foldLeft(agg.zero)(agg.reduce)
    val pair: Gen[(String, Double)] = Gen.zip(
      Gen.choose(0, 40).map(i => f"h$i%02d"), // narrow key space → h ties
      Gen.choose(-5.0, 5.0))
    val cases = sample(Gen.zip(Gen.listOfN(60, pair), Gen.choose(0, 60)),
      200, seed = 31L)
    for ((xs, cut) <- cases) {
      val direct = agg.finish(build(xs))
      // reference semantics: the 8 smallest under (h, v) order
      val expect = xs.sortBy(identity).take(8)
      assert(direct == expect, s"direct != sorted-take on $xs")
      val (a, b) = xs.splitAt(cut)
      assert(agg.finish(agg.merge(build(a), build(b))) == expect,
        s"merge law broken at cut=$cut on $xs")
      // three-way tree merge (the shape a shuffle reduce tree takes)
      val (b1, b2) = b.splitAt(b.length / 2)
      assert(agg.finish(agg.merge(agg.merge(build(a), build(b1)),
        build(b2))) == expect, s"tree merge broken on $xs")
    }
  }

  test("sample_cdf_pos binary search ≡ size(filter(vs, x <= v)) on sorted " +
    "samples — incl. duplicates, boundary hits, NULL v, empty arrays") {
    val arr: Gen[Seq[Double]] = for {
      n <- Gen.choose(0, 24)
      // narrow value space → heavy duplicate runs, the binary-search
      // upper-bound edge the HOF count is insensitive to by construction
      xs <- Gen.listOfN(n, Gen.choose(-6, 6).map(_ * 0.5))
    } yield xs.sorted
    val probe: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.choose(-8, 8).map(i => Some(i * 0.25)),
      1 -> Gen.const(None))
    val cases = sample(Gen.zip(arr, probe), 300, seed = 37L)
    val rows = cases.zipWithIndex.map { case ((vs, v), i) =>
      Row(i.toLong, vs.map(Double.box), v.map(Double.box).orNull)
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vs", ArrayType(DoubleType, containsNull = false)),
      StructField("v", DoubleType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val out = bothPaths(df.select(col("id"),
        graft.functions.SortedRank.cdfPos(col("vs"), col("v")).as("native"),
        size(filter(col("vs"), x => x <= col("v"))).as("hof")),
      "id", "native")
    out.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"id ${r.getLong(0)}: native=${r.getInt(1)} hof=${r.getInt(2)}")
    }
    // SQL-registered surface + NULL-array propagation
    val sqlRow = spark.sql(
      """SELECT sample_cdf_pos(array(1.0d, 2.0d, 2.0d, 5.0d), 2.0d) AS a,
        |       sample_cdf_pos(CAST(NULL AS ARRAY<DOUBLE>), 1.0d) AS b,
        |       sample_cdf_pos(array(1.0d), CAST(NULL AS DOUBLE)) AS c,
        |       sample_cdf_pos(array(1.0d, 2.0d), CAST('NaN' AS DOUBLE)) AS d
        |""".stripMargin).head
    assert(sqlRow.getInt(0) == 3)
    assert(sqlRow.isNullAt(1), "NULL array must propagate (size(NULL))")
    assert(sqlRow.getInt(2) == 0, "NULL probe drops every element")
    assert(sqlRow.getInt(3) == 0, "NaN probe counts nothing (x <= NaN false)")
  }
}
