package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.VectorFunctions
import graft.plans.{CosineSimilarity, SimHash32, SortedIntersectCount}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}

/** Property-based checks (ScalaCheck) for the pieces with algebraic
  * contracts: the native kernels against their reference semantics, and
  * the tokenizer invariants SURVEY §5 calls for. Kernel properties are
  * exercised through interpreted eval (fast, no Spark jobs per case) —
  * ExpressionsSpec already pins eval == codegen. */
class PropertiesSpec extends AnyFunSuite {

  /** Run a ScalaCheck property and fail the suite on any counterexample
    * (no scalatest-plus bridge in the offline cache). */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    check(Prop.forAll(ga, gb) { (a, b) => f(a, b); true })

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    check(Prop.forAll(ga) { a => f(a); true })


  private def cosEval(a: Seq[Double], b: Seq[Double]): Double =
    CosineSimilarity(
      Literal.create(a, ArrayType(DoubleType)),
      Literal.create(b, ArrayType(DoubleType))).eval(null).asInstanceOf[Double]

  private val vecGen = Gen.listOfN(16, Gen.choose(-5.0, 5.0))
    .suchThat(v => v.exists(x => math.abs(x) > 1e-3))

  test("cosine kernel: symmetric, bounded, and 1 on self") {
    forAll(vecGen, vecGen) { (a, b) =>
      val ab = cosEval(a, b); val ba = cosEval(b, a)
      assert(ab == ba, "symmetry must be exact (commutative products)")
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
      assert(math.abs(cosEval(a, a) - 1.0) < 1e-9)
    }
  }

  test("cosine kernel: scale-invariant in either argument") {
    forAll(vecGen, Gen.choose(0.1, 10.0)) { (a, k) =>
      val scaled = a.map(_ * k)
      assert(math.abs(cosEval(a, scaled) - 1.0) < 1e-9)
    }
  }

  private def interEval(a: Seq[String], b: Seq[String]): Int =
    SortedIntersectCount(
      Literal.create(a, ArrayType(StringType)),
      Literal.create(b, ArrayType(StringType))).eval(null).asInstanceOf[Int]

  private val setGen = Gen.listOf(Gen.alphaLowerStr.map(_.take(6)))
    .map(_.distinct.sorted)

  test("intersect kernel: equals scala Set intersection on sorted distinct input") {
    forAll(setGen, setGen) { (a, b) =>
      assert(interEval(a, b) == a.toSet.intersect(b.toSet).size)
    }
  }

  test("intersect kernel: bounds and identities") {
    forAll(setGen, setGen) { (a, b) =>
      val c = interEval(a, b)
      assert(c <= math.min(a.size, b.size))
      assert(interEval(a, a) == a.size)
      assert(interEval(a, Nil) == 0)
    }
  }

  private def interEvalL(a: Seq[Long], b: Seq[Long]): Int =
    SortedIntersectCount(
      Literal.create(a, ArrayType(LongType)),
      Literal.create(b, ArrayType(LongType))).eval(null).asInstanceOf[Int]

  private val longSetGen = Gen.listOf(Gen.choose(-1000L, 1000L))
    .map(_.distinct.sorted)

  test("intersect kernel (BIGINT branch): equals scala Set intersection, incl. negatives") {
    forAll(longSetGen, longSetGen) { (a, b) =>
      assert(interEvalL(a, b) == a.toSet.intersect(b.toSet).size)
      assert(interEvalL(a, a) == a.size)
    }
  }

  test("intersect kernel: generated code == interpreted eval, both element types") {
    // one merge routine serves both paths; compile the projection directly
    // (no silent interpreted fallback) and compare it with eval per case
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.DataType
    import org.apache.spark.unsafe.types.UTF8String
    def agree(t: DataType): (ArrayData, ArrayData) => Unit = {
      val e = SortedIntersectCount(BoundReference(0, ArrayType(t), nullable = true),
        BoundReference(1, ArrayType(t), nullable = true))
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      (a, b) => {
        val row = InternalRow(a, b)
        assert(proj(row).getInt(0) == e.eval(row))
      }
    }
    val longs = agree(LongType)
    forAll(longSetGen, longSetGen) { (a, b) =>
      longs(ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
    }
    val strings = agree(StringType)
    forAll(setGen, setGen) { (a, b) =>
      strings(new GenericArrayData(a.map(UTF8String.fromString)),
        new GenericArrayData(b.map(UTF8String.fromString)))
    }
  }

  private def simhashEval(hs: Seq[Long]): Long =
    SimHash32(Literal.create(hs, ArrayType(LongType))).eval(null).asInstanceOf[Long]

  private val hashGen = Gen.listOf(Gen.choose(0L, (1L << 32) - 1))

  test("simhash kernel: matches an independent vote recomputation, fits in 32 bits") {
    forAll(hashGen) { hs =>
      val fp = simhashEval(hs)
      assert((fp >>> 32) == 0L)
      val expected = (0 until 32).foldLeft(0L) { (acc, j) =>
        val set = hs.count(h => ((h >>> j) & 1L) == 1L)
        if (2 * set - hs.size > 0) acc | (1L << j) else acc
      }
      assert(fp == expected)
    }
  }

  test("simhash kernel: permutation-invariant (bag semantics)") {
    forAll(hashGen) { hs =>
      assert(simhashEval(hs) == simhashEval(hs.reverse))
    }
  }

  private def shingleEval(tokens: Seq[String], w: Int): Seq[(String, Int)] =
    graft.plans.ShinglePosting(
        Literal.create(tokens, ArrayType(StringType)), Literal(w))
      .eval(null).iterator.toSeq
      .map(r => (r.getUTF8String(0).toString, r.getInt(1)))

  private val toksGen: Gen[List[String]] =
    Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "ee", "")))

  test("shingle_posting generator: matches an independent recomputation on random inputs") {
    forAll(toksGen, Gen.choose(1, 4)) { (toks, w) =>
      // reference semantics: distinct w-windows, first-occurrence order,
      // distinct count on every row
      val want = toks.sliding(w).filter(_.size == w)
        .map(_.mkString(" ")).toSeq.distinct
      val got = shingleEval(toks, w)
      assert(got.map(_._1) == want, s"toks=$toks w=$w")
      assert(got.forall(_._2 == want.size))
    }
  }

  test("CEP watermark pruning: any bounded-lateness batch split replays to the one-shot automaton, with state actually pruned") {
    import graft.streaming.Windows
    val W = graft.queries.Analytics.PatternWindowUs // 1 h in µs
    val minUs = 60L * 1000000L
    // events: (minute, code) with code 1=view 2=error 3=purchase; ids by
    // index; per-event delivery delay < W so the watermark contract holds
    val genEvents = for {
      n <- Gen.choose(1, 40)
      ts <- Gen.listOfN(n, Gen.choose(0L, 240L))
      cs <- Gen.listOfN(n, Gen.choose(1, 3))
      ds <- Gen.listOfN(n, Gen.choose(0L, 59L)) // delay minutes, < 60
      nb <- Gen.choose(1, 6)
      bs <- Gen.listOfN(n, Gen.choose(0, nb - 1))
    } yield (ts.map(_ * minUs), cs, ds.map(_ * minUs), bs)
    forAll(genEvents) { case (ts, cs, ds, bsRaw) =>
      val evs = ts.indices.map(i => (ts(i), i.toLong, cs(i)))
      // arrival order by (t + delay): bounded lateness by construction —
      // any arriving event satisfies t > max(arrived t) − W; batch index
      // is then forced non-decreasing along the arrival order
      val arrival = ts.indices.sortBy(i => (ts(i) + ds(i), i.toLong))
      val batchOf = arrival.zipWithIndex
        .map { case (i, pos) => i -> bsRaw.take(pos + 1).max }.toMap
      val nb = if (batchOf.isEmpty) 0 else batchOf.values.max + 1
      var st = Windows.PatternState(0L, 0L, -1L, -1L, -1L, Seq.empty)
      var snap: Windows.PatternSnap = null
      var seenMax = Long.MinValue
      (0 until nb).foreach { b =>
        // Spark's watermark for batch b derives from batches < b
        val wm = if (seenMax == Long.MinValue) 0L else seenMax
        val rows = arrival.filter(batchOf(_) == b).map(evs)
        val (next, s) = Windows.patternStep(st, rows, wm, W)
        // state boundedness: nothing at or below the cutoff stays pending
        assert(next.pending.forall(_._1 > (if (wm > 0) wm - W else Long.MinValue)))
        st = next; snap = s
        if (rows.nonEmpty) seenMax = math.max(seenMax,
          rows.map(_._1).max)
      }
      val oneShot = Windows.foldPattern(
        Windows.PatternState(0L, 0L, -1L, -1L, -1L, Seq.empty),
        evs.sorted, W)
      assert((snap.n_purchases, snap.n_matched, snap.first_match_us) ==
        ((oneShot.n_purchases, oneShot.n_matched, oneShot.first_match_us)),
        s"split replay diverged: evs=$evs batches=$batchOf")
    }
  }
}
