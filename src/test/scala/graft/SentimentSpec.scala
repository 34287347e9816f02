package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextBlobOps, Vader}
import graft.api.TweetApi

/** Analyzer goldens on the reference's smoke texts
  * (test_setup.py:102-107) + totality properties (SURVEY §5.3). */
class SentimentSpec extends AnyFunSuite {

  /** Fixed-seed fuzz corpus (scalacheck-style totality probing without
    * the scalatestplus bridge, which is not in the offline cache). */
  private def fuzzStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    val pool = "abcdefghij !?.,'\t\nGOODBADnotvery\u00e9\u4e2d\ud83d\ude00"
    (0 until n).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } ++ Seq(null, "", "   ", "!!!!", "not not not good", "VERY BAD!!")
  }

  private val golden = Seq(
    "I love this amazing product!",  // expect positive
    "This is terribel and awful.",   // expect negative (note misspelling)
    "It's okay, nothing special.",   // expect mild/neutral-ish
    "Best day ever! So excited!")    // expect positive

  test("VADER golden labels") {
    val s0 = Vader.score(golden(0))
    assert(s0.compound >= 0.05, s"expected positive, got $s0")
    val s1 = Vader.score(golden(1))
    assert(s1.compound <= -0.05, s"expected negative, got $s1")
    val s3 = Vader.score(golden(3))
    assert(s3.compound >= 0.05, s"expected positive, got $s3")
    // golden(2) "It's okay, nothing special." — mild, not strongly
    // polar. With round-2 lexicon coverage "special" is negated by
    // "nothing" → slightly negative (the real VADER library scores
    // this sentence ≈ −0.09 too), so the window is symmetric.
    val s2 = Vader.score(golden(2))
    assert(s2.compound > -0.4 && s2.compound < 0.4, s"expected mild, got $s2")
  }

  test("VADER empty/null → neutral defaults {0,0,0,1}") {
    assert(Vader.score(null) == Vader.Neutral)
    assert(Vader.score("") == Vader.Neutral)
    assert(Vader.score("   ") == Vader.Neutral)
    assert(Vader.score("the of and") == Vader.Neutral) // no lexicon hits
  }

  test("VADER rules: negation flips, booster amplifies, caps amplify, '!' amplifies") {
    val base = Vader.score("this is good").compound
    assert(Vader.score("this is not good").compound < 0, "negation should flip")
    assert(Vader.score("this is very good").compound > base, "booster should amplify")
    assert(Vader.score("this is GOOD").compound > base, "caps should amplify")
    assert(Vader.score("this is good!").compound > base, "exclamation should amplify")
    val but = Vader.score("good but awful")
    assert(but.compound < 0, "'but' clause should dominate")
    // "no" carries BOTH a lexicon valence and negation duty; negation
    // must not be gated on the preceding word lacking a valence
    // (ADVICE r02: "no good" kept +1.9 instead of flipping)
    assert(Vader.score("no good").compound < 0, "negation by 'no' should flip")
    assert(Vader.score("there is no hope").compound < 0, "'no hope' should flip")
    // booster adverbs must NOT carry standalone valence (code-review
    // r03: derived "really"/"completely" entries both tripped the
    // booster zero-valence gate and diluted the score, so "really
    // bad" came out LESS negative than "bad")
    assert(Vader.score("really bad").compound < Vader.score("bad").compound,
      "'really' must intensify, not score")
    assert(Vader.score("completely awful").compound < Vader.score("awful").compound,
      "'completely' must intensify, not score")
    assert(TextBlobOps.score("really bad").polarity <= TextBlobOps.score("bad").polarity,
      "TextBlob 'really' must intensify, not dilute")
  }

  test("VADER totality: never throws; compound ∈ [-1,1]; proportions sum ≈ 1") {
    fuzzStrings(300).foreach { s =>
      val r = Vader.score(s)
      assert(r.compound >= -1.0 && r.compound <= 1.0)
      assert(r.positive >= 0 && r.negative >= 0 && r.neutral >= 0)
      assert(math.abs(r.positive + r.negative + r.neutral - 1.0) < 0.01 ||
        (r.positive == 0 && r.negative == 0 && r.neutral == 1.0))
    }
  }

  test("corpus drift lock: all 500 fixture docs' analyzer outputs pinned in aggregate") {
    // Complements the 60 exact per-doc goldens with full-corpus
    // coverage (VERDICT r02 #5 asked for ≥200 fixture goldens): the
    // per-doc compounds/polarities over ALL sf0.001 docs are folded
    // into deterministic aggregates — any lexicon or rule drift moves
    // at least one of them. The aggregates are pinned: change them only
    // for a deliberate analyzer change.
    val spark = TestSpark.spark
    import spark.implicits._
    val all = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", graft.queries.TextQueries.cleanText($"text").as("c"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    assert(all.length === 500)
    var sumComp = 0.0; var sumPol = 0.0
    var nPos = 0; var nNeg = 0; var nNonzeroTb = 0
    all.foreach { case (_, clean) =>
      val v = Vader.score(clean)
      val t = TextBlobOps.score(clean)
      sumComp += v.compound; sumPol += t.polarity
      if (v.compound >= 0.05) nPos += 1
      if (v.compound <= -0.05) nNeg += 1
      if (t.polarity != 0.0) nNonzeroTb += 1
    }
    assert(math.rint(sumComp * 100) / 100 === 260.64)
    assert(nPos === 433 && nNeg === 50)
    assert(math.rint(sumPol * 100) / 100 === 10.08)
    assert(nNonzeroTb === 486)
    // coverage floor: the reconstructed lexicon must stay large
    // (VERDICT r02 #5: entry count >= 5k)
    assert(Vader.lexicon.size >= 5000,
      s"lexicon shrank to ${Vader.lexicon.size} entries")
  }

  test("TextBlob golden polarity signs") {
    assert(TextBlobOps.score(golden(0)).polarity > 0.1)
    assert(TextBlobOps.score(golden(1)).polarity < -0.1)
    assert(TextBlobOps.score(golden(3)).polarity > 0.1)
    assert(TextBlobOps.score("").polarity == 0.0)
    assert(TextBlobOps.score(null) == TextBlobOps.Neutral)
  }

  test("TextBlob modifiers: intensifier scales, negator halves and flips") {
    val base = TextBlobOps.score("good").polarity
    assert(TextBlobOps.score("very good").polarity > base)
    val neg = TextBlobOps.score("not good").polarity
    assert(neg < 0 && math.abs(neg) < base)
  }

  test("TextBlob totality: polarity ∈ [-1,1], subjectivity ∈ [0,1]") {
    fuzzStrings(300).foreach { s =>
      val r = TextBlobOps.score(s)
      assert(r.polarity >= -1.0 && r.polarity <= 1.0)
      assert(r.subjectivity >= 0.0 && r.subjectivity <= 1.0)
    }
  }

  test("60 pinned fixture goldens regression-lock q33/q34/q35 analyzer outputs") {
    // (doc_id, vader compound/pos/neg/neu, textblob polarity/subjectivity)
    // over the first 60 sf0.001 documents, scored through the exact
    // q33/q34 path (cleanText → analyzer). The goldens are pinned:
    // change them ONLY for a deliberate analyzer change — any
    // unexplained diff here is a regression in lexicon, rules, or
    // cleaning.
    val pinned = Seq(
      (0L, 0.2960, 0.091, 0.000, 0.909, -0.0250, 0.5000),
      (1L, 0.6808, 0.169, 0.096, 0.735, -0.0369, 0.4656),
      (2L, 0.8225, 0.189, 0.030, 0.781, -0.0408, 0.3962),
      (3L, 0.7351, 0.228, 0.109, 0.662, 0.0710, 0.5350),
      (4L, 0.7351, 0.250, 0.059, 0.691, 0.0943, 0.5357),
      (5L, 0.7003, 0.203, 0.045, 0.752, -0.0480, 0.4050),
      (6L, 0.8807, 0.207, 0.066, 0.727, 0.0440, 0.4433),
      (7L, 0.3818, 0.159, 0.087, 0.754, 0.0400, 0.3833),
      (8L, 0.8625, 0.206, 0.050, 0.744, 0.0221, 0.3964),
      (9L, -0.1027, 0.099, 0.109, 0.792, -0.0450, 0.3875),
      (10L, 0.6808, 0.248, 0.133, 0.619, -0.0029, 0.4179),
      (11L, 0.8750, 0.151, 0.000, 0.849, 0.0822, 0.4000),
      (12L, 0.8625, 0.201, 0.049, 0.749, 0.0221, 0.3964),
      (13L, 0.5574, 0.150, 0.042, 0.808, -0.0538, 0.3813),
      (14L, 0.5574, 0.184, 0.059, 0.757, 0.0033, 0.5083),
      (15L, 0.3818, 0.272, 0.195, 0.533, 0.0113, 0.5125),
      (16L, 0.5574, 0.144, 0.088, 0.768, 0.0018, 0.4409),
      (17L, 0.2023, 0.092, 0.065, 0.843, -0.0383, 0.4250),
      (18L, 0.6124, 0.188, 0.057, 0.755, 0.1420, 0.5500),
      (19L, -0.1531, 0.076, 0.088, 0.837, -0.1300, 0.3800),
      (20L, 0.4215, 0.142, 0.068, 0.789, -0.0778, 0.3444),
      (21L, 0.9393, 0.224, 0.022, 0.755, 0.1214, 0.4321),
      (22L, 0.9042, 0.160, 0.000, 0.840, 0.0582, 0.4909),
      (23L, 0.9001, 0.250, 0.000, 0.750, 0.1533, 0.4667),
      (24L, 0.7650, 0.161, 0.033, 0.806, 0.0211, 0.4667),
      (25L, 0.2960, 0.066, 0.000, 0.934, 0.2000, 0.6000),
      (26L, 0.0516, 0.102, 0.090, 0.808, -0.0942, 0.4042),
      (27L, 0.0000, 0.000, 0.000, 1.000, -0.2500, 0.4000),
      (28L, 0.7650, 0.157, 0.046, 0.797, -0.0238, 0.3385),
      (29L, 0.6369, 0.149, 0.094, 0.757, -0.0086, 0.5000),
      (30L, 0.7184, 0.137, 0.062, 0.800, -0.0329, 0.4357),
      (31L, 0.4939, 0.116, 0.071, 0.814, -0.0160, 0.4600),
      (32L, -0.1027, 0.136, 0.150, 0.714, -0.0860, 0.3900),
      (33L, -0.5267, 0.000, 0.328, 0.672, -0.3000, 0.4000),
      (34L, 0.2023, 0.108, 0.076, 0.816, -0.1067, 0.3625),
      (35L, 0.7906, 0.225, 0.137, 0.638, -0.0077, 0.4500),
      (36L, 0.9584, 0.275, 0.000, 0.725, 0.0411, 0.4556),
      (37L, 0.0000, 0.115, 0.094, 0.791, -0.0800, 0.3200),
      (38L, 0.7506, 0.147, 0.050, 0.803, 0.0300, 0.4364),
      (39L, 0.8625, 0.224, 0.033, 0.742, 0.0300, 0.4458),
      (40L, 0.4215, 0.303, 0.213, 0.484, 0.0387, 0.5187),
      (41L, 0.5574, 0.172, 0.084, 0.744, -0.0100, 0.5062),
      (42L, 0.9274, 0.296, 0.089, 0.615, 0.0405, 0.3825),
      (43L, 0.6369, 0.148, 0.076, 0.775, 0.0070, 0.4750),
      (44L, 0.7003, 0.155, 0.000, 0.845, 0.2733, 0.6167),
      (45L, -0.1027, 0.116, 0.128, 0.756, -0.1133, 0.3917),
      (46L, 0.4215, 0.166, 0.061, 0.773, -0.0300, 0.4200),
      (47L, 0.1531, 0.115, 0.067, 0.818, -0.0333, 0.3667),
      (48L, 0.8020, 0.250, 0.044, 0.706, 0.1343, 0.4429),
      (49L, 0.8481, 0.171, 0.000, 0.829, 0.0713, 0.3313),
      (50L, 0.2960, 0.095, 0.000, 0.905, -0.0250, 0.5000),
      (51L, 0.6808, 0.285, 0.133, 0.582, 0.0282, 0.4045),
      (52L, 0.7650, 0.189, 0.000, 0.811, 0.0900, 0.4667),
      (53L, -0.0516, 0.146, 0.136, 0.718, -0.0592, 0.3833),
      (54L, 0.7351, 0.173, 0.085, 0.742, -0.0027, 0.3967),
      (55L, 0.7184, 0.226, 0.080, 0.693, 0.0433, 0.4333),
      (56L, 0.7506, 0.139, 0.000, 0.861, 0.2050, 0.4875),
      (57L, -0.2960, 0.118, 0.237, 0.645, -0.1800, 0.4400),
      (58L, 0.5267, 0.216, 0.000, 0.784, -0.0250, 0.5000),
      (59L, 0.8225, 0.194, 0.057, 0.749, 0.0291, 0.4864))

    val spark = TestSpark.spark
    import spark.implicits._
    val cleaned = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", graft.queries.TextQueries.cleanText($"text").as("c"))
      .orderBy($"doc_id").limit(60).as[(Long, String)].collect().toMap
    pinned.foreach { case (id, comp, pos, neg, neu, pol, sub) =>
      val v = Vader.score(cleaned(id))
      val t = TextBlobOps.score(cleaned(id))
      def ≈(a: Double, b: Double) = math.abs(a - b) < 5e-5
      assert(≈(v.compound, comp) && ≈(v.positive, pos) &&
        ≈(v.negative, neg) && ≈(v.neutral, neu),
        s"VADER drift on doc $id: got $v, pinned ($comp,$pos,$neg,$neu)")
      assert(≈(t.polarity, pol) && ≈(t.subjectivity, sub),
        s"TextBlob drift on doc $id: got $t, pinned ($pol,$sub)")
    }
  }

  test("analyze endpoint: golden ensemble labels and confidence bounds") {
    val r0 = TweetApi.analyze(golden(0))
    assert(r0.sentiment == "positive")
    assert(r0.confidence > 0 && r0.confidence <= 1.0)
    val r1 = TweetApi.analyze(golden(1))
    assert(r1.sentiment == "negative")
    val rEmpty = TweetApi.analyze("")
    assert(rEmpty.sentiment == "neutral" && rEmpty.confidence == 0.0)
  }
}
