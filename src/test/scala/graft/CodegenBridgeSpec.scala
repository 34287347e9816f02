package graft

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** The codegen compile gate: every custom expression's generated Java
  * is COMPILED here, directly, via `GenerateUnsafeProjection.generate`
  * — the one check value-parity fuzz and plan-text pins cannot
  * perform. Spark falls back to interpreted execution when Janino
  * rejects a stage's Java (for example a call to a kernel whose
  * companion-method name collides with the inherited `Expression.eval`,
  * so scalac emits no static forwarder); answers stay identical, so
  * only a direct compile sees it. `generate` throws instead of falling
  * back, and the compiled projection's output is then compared to the
  * interpreted `eval` on non-trivial inputs (null included), so a
  * bridge that compiles but diverges also fails. Since both paths call
  * one kernel, rows whose outcome is a kernel rule (a NULL result, a
  * skipped shingle) also pin the expected value. No SparkSession
  * needed — the generator runs against default SQLConf, exactly as
  * executor-side codegen does. */
class CodegenBridgeSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def toks(ss: String*): GenericArrayData =
    new GenericArrayData(ss.map(s => if (s == null) null else str(s)).toArray[Any])
  private def vecD(ds: Double*): GenericArrayData = new GenericArrayData(ds.toArray[Any])
  private def vecF(fs: Float*): GenericArrayData = new GenericArrayData(fs.toArray[Any])

  /** Compile the bridge (hard-fails on Janino error — the silent
    * interpreted fallback made loud) and pin compiled == interpreted
    * on every sample row; each `pinned` row (input -> expected output,
    * in Scala form) must also produce its expected value. */
  private def assertBridge(name: String, expr: Expression, inputs: Seq[Array[Any]],
      pinned: (Array[Any], Any)*): Unit = {
    val compiled =
      try GenerateUnsafeProjection.generate(Seq(expr))
      catch {
        case e: Throwable => fail(
          s"$name: generated Java FAILED TO COMPILE — at runtime this stage would " +
          s"silently fall back to interpreted execution: " +
          e.getMessage.linesIterator.take(4).mkString(" | "))
      }
    val conv = CatalystTypeConverters.createToScalaConverter(expr.dataType)
    (inputs ++ pinned.map(_._1)).zipWithIndex.foreach { case (vals, i) =>
      val row = new GenericInternalRow(vals)
      val fromCompiled = conv(compiled.apply(row).get(0, expr.dataType))
      val fromInterp = conv(expr.eval(row))
      assert(fromCompiled == fromInterp,
        s"$name input #$i: compiled $fromCompiled != interpreted $fromInterp")
      if (i >= inputs.length) {
        val want = pinned(i - inputs.length)._2
        assert(fromCompiled == want, s"$name input #$i: got $fromCompiled, want $want")
      }
    }
  }

  private val strRef = BoundReference(0, StringType, nullable = true)
  private val tokRef = BoundReference(0, ArrayType(StringType), nullable = true)
  private val vecDRef = BoundReference(0, ArrayType(DoubleType), nullable = true)
  private val vecFRef = BoundReference(0, ArrayType(FloatType), nullable = true)

  private val strRows: Seq[Array[Any]] = Seq(
    Array[Any](str("The quick brown fox jumps over the lazy dog!! :) 😀 héllo")),
    Array[Any](str("")),
    Array[Any](null))
  private val tokRows: Seq[Array[Any]] = Seq(
    Array[Any](toks("a", "b", "a", "c", "bb", "é中")),
    Array[Any](toks("solo")),
    Array[Any](toks()),
    Array[Any](null))

  test("vector bridges: cosine_similarity / squared_l2 (double + float reads)") {
    val withNull = new GenericArrayData(Array[Any](1.0, null, 3.0))
    assertBridge("CosineSimilarity[double]",
      CosineSimilarity(vecDRef, BoundReference(1, ArrayType(DoubleType), nullable = true)),
      Seq(Array[Any](vecD(1, 2, 3), vecD(4, 5, 6)),
          Array[Any](vecD(0, 0), vecD(1, 1)),        // zero norm → null
          Array[Any](vecD(1, 2), vecD(1, 2, 3)),     // length mismatch → null
          Array[Any](null, vecD(1.0))),
      Array[Any](vecD(1, 2, 3), withNull) -> null)  // null element → null
    assertBridge("CosineSimilarity[float]",
      CosineSimilarity(vecFRef, BoundReference(1, ArrayType(FloatType), nullable = true)),
      Seq(Array[Any](vecF(1, 2, 3), vecF(4, 5, 6)), Array[Any](null, null)))
    assertBridge("SquaredL2[double]",
      SquaredL2(vecDRef, BoundReference(1, ArrayType(DoubleType), nullable = true)),
      Seq(Array[Any](vecD(1, 2, 3), vecD(4, 6, 3)), Array[Any](null, vecD(1.0))),
      Array[Any](vecD(1, 2), vecD(1, 2, 3)) -> null,  // length mismatch → null
      Array[Any](vecD(1, 2, 3), withNull) -> null)    // null element → null
    assertBridge("SquaredL2[float]",
      SquaredL2(vecFRef, BoundReference(1, ArrayType(FloatType), nullable = true)),
      Seq(Array[Any](vecF(1, 2), vecF(0, -1)), Array[Any](vecF(), vecF())))
  }

  test("hashing bridges: minhash_signature / simhash64 / hyperplane_bucket / rolling hash") {
    assertBridge("MinHashSignature", MinHashSignature(tokRef, n = 2, k = 8, seed = 42), tokRows,
      // both 2-token windows hold the null token: both skipped, no minimum moves
      Array[Any](toks("a", null, "b")) -> Seq.fill(8)(Long.MaxValue))
    assertBridge("SimHash64", SimHash64(tokRef, seed = 42), tokRows)
    assertBridge("SimHashCharGrams", SimHashCharGrams(strRef, seed = 42), strRows)
    assertBridge("HyperplaneBucket[double]", HyperplaneBucket(vecDRef, planes = 8, seed = 0),
      Seq(Array[Any](vecD(0.3, -1.2, 0.8, 2.2)), Array[Any](null)))
    assertBridge("HyperplaneBucket[float]", HyperplaneBucket(vecFRef, planes = 5, seed = 7),
      Seq(Array[Any](vecF(0.3f, -1.2f)), Array[Any](vecF())))
    assertBridge("CodepointRollingHash", CodepointRollingHash(strRef), strRows)
  }

  test("ivf_probe_cells bridge (the round-18 broken one) compiles, double + float") {
    val cents = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(0.6, 0.6, 0.0))
    val rowsF = Seq(
      Array[Any](vecF(0.9f, 0.1f, 0.0f)),
      Array[Any](vecF(0.0f, 0.0f, 0.0f)), // zero norm: all cosines −∞ → stable [1..np]
      Array[Any](null))
    assertBridge("IvfProbeCellsExpr[float,np=2]", IvfProbeCellsExpr(vecFRef, cents, np = 2), rowsF)
    assertBridge("IvfProbeCellsExpr[float,np=7>k]", IvfProbeCellsExpr(vecFRef, cents, np = 7), rowsF)
    assertBridge("IvfProbeCellsExpr[double]", IvfProbeCellsExpr(vecDRef, cents, np = 3),
      Seq(Array[Any](vecD(0.2, 0.7, -0.1)), Array[Any](vecD(1.0, 1.0, 1.0))))
  }

  test("pq bridges (the 64KB-overflow replacements): pq_codes / pq_adc_table") {
    // 2 subspaces × 3 centroids × sub-dim 2 over a 4-dim vector
    val cb: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(0.5, 0.5)),
      Array(Array(-1.0, 2.0), Array(3.0, -0.5), Array(0.0, 0.0)))
    val rows = Seq(
      Array[Any](vecF(0.9f, 0.1f, -0.4f, 1.2f)),
      Array[Any](vecF(0.0f, 0.0f, 0.0f, 0.0f)),
      Array[Any](vecF(1.0f, 2.0f)),   // short: subspace 2 window invalid → null code
      Array[Any](null))
    assertBridge("PqEncodeExpr[float]", PqEncodeExpr(vecFRef, cb), rows)
    assertBridge("PqAdcTableExpr[float]", PqAdcTableExpr(vecFRef, cb), rows)
    assertBridge("PqEncodeExpr[double]", PqEncodeExpr(vecDRef, cb),
      Seq(Array[Any](vecD(0.3, -0.7, 2.0, 0.1))))
    assertBridge("PqAdcTableExpr[double]", PqAdcTableExpr(vecDRef, cb),
      Seq(Array[Any](vecD(0.3, -0.7, 2.0, 0.1))))
  }

  test("gram fingerprint bridges (the other round-18 broken one): gram_fps / gram_fps_seq") {
    assertBridge("GramFps[n=2]", GramFps(tokRef, 2), tokRows)
    assertBridge("GramFps[n=1]", GramFps(tokRef, 1), tokRows)
    assertBridge("GramFpsSeq[n=3]", GramFpsSeq(tokRef, 3), tokRows)
  }

  test("pca_project bridge (r20 PCA fusion): coords, norm, float + double, degenerate shapes") {
    val mean = Array(0.5, -1.0, 2.0)
    val comps = Array(Array(1.0, 0.0, 0.5), Array(-0.5, 2.0, 1.0))
    for (withNorm <- Seq(false, true)) {
      assertBridge(s"PcaProjectExpr[double,norm=$withNorm]",
        PcaProjectExpr(vecDRef, mean, comps, withNorm), Seq(
          Array[Any](vecD(1.0, 2.0, 3.0)),
          Array[Any](vecD(1.0, 2.0)),            // shorter: norm ok, coords null
          Array[Any](vecD(1.0, 2.0, 3.0, 4.0)),  // longer: all null
          Array[Any](new GenericArrayData(Array[Any](1.0, null, 3.0))),
          Array[Any](null)))
      assertBridge(s"PcaProjectExpr[float,norm=$withNorm]",
        PcaProjectExpr(vecFRef, mean, comps, withNorm),
        Seq(Array[Any](vecF(1.5f, -0.25f, 8.0f)), Array[Any](null)))
    }
    assertBridge("PcaProjectExpr[norm-only, k=0]",
      PcaProjectExpr(vecDRef, mean, Array.empty, withNormSq = true),
      Seq(Array[Any](vecD(1.0, 2.0, 3.0)), Array[Any](null)))
  }

  test("char-bag bridges (r20 q131/q145 fusion): char_bag / int_array_l1") {
    assertBridge("CharBagCounts", CharBagCounts(strRef), strRows)
    val intArr = (xs: Seq[Any]) => new GenericArrayData(xs.toArray[Any])
    val l = BoundReference(0, ArrayType(IntegerType), nullable = true)
    val r = BoundReference(1, ArrayType(IntegerType), nullable = true)
    assertBridge("IntArrayL1", IntArrayL1(l, r), Seq(
      Array[Any](intArr(Seq(1, 5, 3)), intArr(Seq(4, 2, 3))),
      Array[Any](intArr(Seq(1, 2)), intArr(Seq(1, 2, 3))),  // mismatch → null
      Array[Any](intArr(Seq(1, null, 3)), intArr(Seq(1, 2, 3))), // null elem → null
      Array[Any](null, intArr(Seq(1)))))
  }

  test("text bridges: normalize_text / regex_scrub / quantile_bucket") {
    assertBridge("NormalizeText", NormalizeText(strRef), strRows)
    assertBridge("RegexScrub", RegexScrub(strRef, Seq(
      ("[0-9]{3}-[0-9]{4}", "<PHONE>"), ("\\bfox\\b", "<ANIMAL>"))),
      strRows :+ Array[Any](str("call 555-1234 or 555-9999 about the fox")))
    assertBridge("QuantileBucket", QuantileBucket(
      BoundReference(0, DoubleType, nullable = true), Array(0.25, 0.5, 0.75)),
      Seq(Array[Any](0.1), Array[Any](0.5), Array[Any](0.99), Array[Any](null)))
  }

  test("artifact-carrying bridges: Aho–Corasick / Bloom / BPE") {
    assertBridge("AcMatchIds", AcMatchIds(strRef,
      AhoCorasick.build(Seq((7L, "quick"), (9L, "lazy dog"), (11L, "héllo")))), strRows)
    val words = new Array[Long](16) // 1024-bit filter
    BloomUtil.set(words, 1024, 6, BloomUtil.hashOf(42L))
    BloomUtil.set(words, 1024, 6, BloomUtil.hashOf(7L))
    assertBridge("BloomContains", BloomContains(
      BoundReference(0, LongType, nullable = true), BloomUtil.toBytes(words, 6)),
      Seq(Array[Any](42L), Array[Any](43L), Array[Any](null)))
    val table = Bpe.BpeTable(Seq(("t", "h"), ("th", "e"), ("o", "g")))
    assertBridge("BpeTokenCount", BpeTokenCount(strRef, table), strRows)
    assertBridge("BpeEncode", BpeEncode(strRef, table), strRows)
  }

  test("sentiment bridges: vader / textblob / analyze / langid") {
    val rows = strRows :+
      Array[Any](str("I absolutely LOVE this, it's not bad at all — great!!!")) :+
      Array[Any](str("das ist ein schlechter tag und die dinge sind nicht gut"))
    assertBridge("VaderScore", VaderScore(strRef), rows)
    assertBridge("TextBlobScore", TextBlobScore(strRef), rows)
    assertBridge("AnalyzeSentiment", AnalyzeSentiment(strRef), rows)
    assertBridge("LangIdDetect", LangIdDetect(strRef), rows)
  }
}
