package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Bpe, Num, Sim}

/** Property parity for the round-10 iterative operators against naive
  * in-memory reference implementations over GENERATED inputs — the
  * oracle gate proves one fixture; this proves the algorithms on
  * arbitrary shapes (scalacheck Gen sampled directly — scalatestplus
  * is not on the offline classpath).
  *
  * Generated corpora are pre-cleaned ([a-z] words, single spaces) so
  * cleanTokens reduces to whitespace split and the references need no
  * regex re-implementation. Generated vectors have a strictly positive
  * first coordinate so no zero-norm cosine arises (Spark's ANSI divide
  * would throw on it).
  */
class BpeMmrPropSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // ---- BPE reference -----------------------------------------------------

  private def refApplyMerge(s: Vector[String], a: String,
                            b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def refBpe(words: Map[String, Long],
                     merges: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var i = 1
    var done = false
    while (i <= merges && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        var j = 0
        while (j + 1 < syms.length) {
          val k = (syms(j), syms(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          j += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) =>
          (-c, a, b)
        }
        out += ((i, a, b, c))
        vocab = vocab.map { case (s, f) => (refApplyMerge(s, a, b), f) }
        i += 1
      }
    }
    out.result()
  }

  private val wordGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.choose('a', 'd')).map(_.mkString))

  private val corpusGen: Gen[List[String]] =
    Gen.choose(3, 25).flatMap(n => Gen.listOfN(n, wordGen))

  test("Bpe.train == naive reference BPE on 8 generated corpora " +
      "(narrow alphabet forces merge ties and overlap runs)") {
    samples(corpusGen, 8).zipWithIndex.foreach { case (words, ci) =>
      val docs = words.grouped(5).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" ")) }
        .toSeq.toDF("doc_id", "text")
      val freqs = words.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val want = refBpe(freqs, merges = 6)
      val got = Bpe.train(docs, "text", merges = 6)
        .as[(Int, String, String, Long)].collect().toSeq
      assert(got === want, s"corpus #$ci: $words")
    }
  }

  // ---- MMR reference -----------------------------------------------------

  // Spark's floorAt: floor(double) is BIGINT, so NaN floors to 0.0
  private def floor4(x: Double): Double =
    math.floor(x * 10000).toLong.toDouble / 10000

  // dot_f32 nulls: a null vector or a length mismatch scores None
  private def refCos(a: Array[Float], b: Array[Float]): Option[Double] =
    if (a == null || b == null || a.length != b.length) None
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      Some(floor4(dot / (math.sqrt(na) * math.sqrt(nb))))
    }

  private def refMmr(vecs: Seq[(Long, Array[Float])], qIds: Seq[Long],
                     k: Int, lam: Double)
      : Seq[(Long, Int, Long, Option[Double])] = {
    val byId = vecs.toMap
    val om = 1.0 - lam
    qIds.sorted.flatMap { q =>
      var picked = Vector.empty[Long]
      (1 to k).flatMap { rk =>
        val cands = vecs.map(_._1).filter(c => c != q && !picked.contains(c))
        if (cands.isEmpty) Nil
        else {
          // max ignores nulls; all-null (or no non-null cosine) is null
          def score(c: Long): Option[Double] = {
            val div =
              if (picked.isEmpty) Some(0.0)
              else picked.flatMap(s => refCos(byId(c), byId(s)))
                .maxOption
            for (r <- refCos(byId(q), byId(c)); d <- div)
              yield lam * r - om * d
          }
          // mmr descending, nulls last, ties to the lowest id
          val w = cands.sortBy(c => score(c) match {
            case Some(s) => (0, -s, c)
            case None => (1, 0.0, c)
          }).head
          val sw = score(w) // BEFORE adding w (its self-sim is not a penalty)
          picked = picked :+ w
          Seq((q, rk, w, sw.map(floor4)))
        }
      }
    }
  }

  private val vecGen: Gen[Array[Float]] = for {
    head <- Gen.oneOf(0.25f, 0.5f, 0.75f, 1.0f)
    rest <- Gen.listOfN(3, Gen.oneOf(-1.0f, -0.5f, -0.25f, 0.0f,
      0.25f, 0.5f, 1.0f))
  } yield (head :: rest).toArray

  private val setGen: Gen[List[Array[Float]]] =
    Gen.choose(6, 14).flatMap(n => Gen.listOfN(n, vecGen))

  private def ids(vs: Seq[Array[Float]]): Seq[(Long, Array[Float])] =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  // (label, vectors, k): the generated sets at k = 3, then edge inputs
  // built from further generated sets. Queries are ids 0 and 1.
  private val mmrCases: Seq[(String, Seq[(Long, Array[Float])], Int)] = {
    val sets = samples(setGen, 10)
    def edit(s: List[Array[Float]], at: Map[Int, Array[Float]]) =
      ids(s.zipWithIndex.map { case (v, i) => at.getOrElse(i, v) })
    sets.take(6).zipWithIndex.map { case (s, i) => (s"set #$i", ids(s), 3) } ++
    Seq(
      ("null embedding (query 1 and candidate 4)",
        edit(sets(6), Map(1 -> null, 4 -> null)), 4),
      ("NaN element (query 0 and candidate 3; rel floors to 0.0)",
        edit(sets(7), Map(0 -> sets(7)(0).updated(2, Float.NaN),
          3 -> sets(7)(3).updated(1, Float.NaN))), 4),
      ("length mismatch (candidates 2 and 5 are 3-d)",
        edit(sets(8), Map(2 -> sets(8)(2).take(3), 5 -> sets(8)(5).take(3))),
        5),
      ("fewer candidates than k", ids(sets(9).take(3)), 3),
      ("k = 1", ids(sets(9)), 1))
  }

  test("Sim.mmrTopK == naive greedy reference on 6 generated vector " +
      "sets and 5 edge inputs (null embedding, NaN element, length " +
      "mismatch, fewer candidates than k, k = 1) x lambda in " +
      "{0.3, 0.7} (grid values force score ties)") {
    mmrCases.foreach { case (label, rows, k) =>
      val df = rows.toDF("vec_id", "embedding")
      val qIds = Seq(0L, 1L)
      for (lam <- Seq(0.3, 0.7)) {
        val want = refMmr(rows, qIds, k, lam)
        val got = Sim.mmrTopK(df.where($"vec_id" < 2), df, k, lambda = lam)
          .orderBy("q_id", "rk")
          .as[(Long, Int, Long, Option[Double])].collect().toSeq
        assert(got === want, s"$label lam=$lam k=$k: " +
          rows.map(r => Option(r._2).map(_.toList)))
      }
    }
  }

  test("Sim.mmrTopK fails loudly on a repeated candidate id and names " +
      "the remedy") {
    val rows = ids(samples(setGen, 1).head)
    val df = (rows :+ rows(3)).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Sim.mmrTopK(df.where($"vec_id" < 2), df, 3).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("candidate id 3 appears twice"), msgs)
    assert(msgs.contains("dedup candidate ids first"), msgs)
  }

  test("Sim.mmrTopK keeps Spark's zero-divisor semantics in the " +
      "diversity cosine: a zero-norm candidate whose relevance is null " +
      "throws DIVIDE_BY_ZERO once a round needs its diversity (as the " +
      "per-round SQL form did), and never at k = 1") {
    // query 0 is 3-d, so every relevance is null and round 1 picks id 1
    val df = Seq((0L, Array(1f, 2f, 3f)), (1L, Array(1f, 0f, 0f, 1f)),
      (2L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val q = df.where($"vec_id" === 0)
    assert(Sim.mmrTopK(q, df, 1).as[(Long, Int, Long, Option[Double])]
      .collect().toSeq === Seq((0L, 1, 1L, None)))
    val e = intercept[Exception](Sim.mmrTopK(q, df, 2).collect())
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
  }

  test("Num.floorAtLong is Spark's floorAt on a JVM double (BIGINT " +
      "floor: NaN -> 0.0, saturating); floorDouble is DuckDB's (NaN " +
      "stays NaN)") {
    val xs = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e300, -1.23456789, 0.5, 0.70005)
    val spark4 = xs.toDF("x").select(Num.floorAt($"x", 4))
      .as[Double].collect().toSeq
    assert(xs.map(Num.floorAtLong(_, 4)) === spark4)
    assert(spark4.head === 0.0)
    assert(Num.floorDouble(Double.NaN, 4).isNaN)
    assert(Num.floorDouble(-1.23456789, 4) === Num.floorAtLong(-1.23456789, 4))
  }
}
