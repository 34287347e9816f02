package graft

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import graft.functions.Bpe
import graft.queries.BpeQueries

import scala.collection.mutable.ArrayBuffer

/** BPE subword tokenization: encoder semantics (sequential rank
  * application, leftmost non-overlapping merge-all), the fold ≡ scan
  * equivalence the DuckDB oracle relies on, distributed training on
  * corpora with hand-computable merge sequences, the persisted-merges
  * freshness lifecycle, and budget binding of the q98/q99 variants. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def enc(w: String): Seq[String] = Bpe.encodeWord(w, Bpe.pinned).toSeq

  test("pinned-table encode matches hand-traced values") {
    // independently traced with the reference scan (also the values the
    // q97 oracle's DuckDB fold reproduces)
    assert(enc("the") == Seq("the"))
    assert(enc("that") == Seq("that"))
    // rank-1 (t,h) fires before 'it' can form: (w,it)/(wit,h) are dead
    // for this word — rank ORDER matters, not just membership
    assert(enc("with") == Seq("w", "i", "th"))
    assert(enc("thee") == Seq("the", "e"))
    assert(enc("standing") == Seq("st", "and", "ing"))
    assert(enc("forest") == Seq("f", "o", "re", "st"))
    assert(enc("editor") == Seq("ed", "it", "or"))
    assert(enc("mississippi") ==
      Seq("m", "is", "s", "is", "s", "i", "p", "p", "i"))
    assert(enc("a") == Seq("a"))
  }

  test("leftmost non-overlapping pairing on runs (odd and even)") {
    assert(enc("lll") == Seq("ll", "l"))
    assert(enc("llll") == Seq("ll", "ll"))
    assert(enc("lllll") == Seq("ll", "ll", "l"))
  }

  /** Transliteration of the oracle's list_reduce lambda: fold with
    * space-delimited accumulator, merge = append WITHOUT delimiter
    * when the accumulator's last token is exactly l and x = r. */
  private def foldEncode(w: String, t: Bpe.BpeTable): Seq[String] = {
    var st = w.toCharArray.map(String.valueOf).mkString(" ")
    for (((l, r), _) <- t.merges.zipWithIndex) {
      val toks = st.split(" ").toSeq
      st = toks.tail.foldLeft(toks.head) { (acc, x) =>
        if ((" " + acc).endsWith(" " + l) && x == r) acc + x else acc + " " + x
      }
    }
    st.split(" ").toSeq
  }

  test("fold form (the DuckDB oracle's lambda) ≡ the scan pass, fuzzed") {
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "lteahsnoir"
    for (_ <- 1 to 400) {
      val w = Seq.fill(1 + rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.length))).mkString
      // random table: single chars and short fused strings, runs included
      val merges = Seq.fill(1 + rnd.nextInt(8)) {
        def sym() = Seq.fill(1 + rnd.nextInt(2))(alphabet(rnd.nextInt(alphabet.length))).mkString
        (sym(), sym())
      }
      val t = Bpe.BpeTable(merges)
      assert(Bpe.encodeWord(w, t).toSeq == foldEncode(w, t),
        s"word=$w merges=$merges")
    }
  }

  test("cut-point encoder (r21) ≡ the string-buffer merge-pass chain, fuzzed") {
    // encodeWord now walks cut positions with zero per-pass allocation;
    // the reference is the former implementation: per-char string
    // buffer threaded through mergePass at every rank
    val rnd = new scala.util.Random(20260819L)
    val alphabet = "lteahsnoir_0"
    for (_ <- 1 to 400) {
      val w = Seq.fill(1 + rnd.nextInt(18))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val merges = Seq.fill(1 + rnd.nextInt(10)) {
        def sym() = Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.length))).mkString
        (sym(), sym())
      }
      val t = Bpe.BpeTable(merges)
      var ref = scala.collection.mutable.ArrayBuffer(w.map(String.valueOf): _*)
      for ((l, r) <- merges if ref.length > 1)
        ref = Bpe.mergePass(ref, l, r, l + r)
      assert(Bpe.encodeWord(w, t).toSeq == ref.toSeq, s"word=$w merges=$merges")
    }
  }

  test("doc-level count and encode: punctuation atomic, round-trip lossless") {
    val df = Seq(
      ("the cat, the hat!", 2L),  // 2 punct tokens
      ("café", 1L),          // é is [^\w\s] under ASCII \w → atomic
      ("", 0L)).toDF("text", "np")
    val got = df.select(
      Bpe.bpe_token_count($"text", Bpe.pinned).as("cnt"),
      Bpe.bpe_encode($"text", Bpe.pinned).as("toks"),
      array_join(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"), "").as("pre"))
      .collect()
    // "the cat, the hat!": the(1) cat(c,at=2) ,(1) the(1) hat(h,at=2) !(1) = 8
    assert(got(0).getLong(0) == 8L)
    assert(got(0).getSeq[String](1) ==
      Seq("the", "c", "at", ",", "the", "h", "at", "!"))
    // café: caf → c,a,f (no merges) + é atomic = 4
    assert(got(1).getLong(0) == 4L)
    assert(got(1).getSeq[String](1) == Seq("c", "a", "f", "é"))
    assert(got(2).getLong(0) == 0L)
    assert(got(2).getSeq[String](1).isEmpty)
    // round-trip identity: concat(tokens) == concat(pre-tokens)
    got.foreach(r => assert(r.getSeq[String](1).mkString == r.getString(2)))
  }

  test("null text → null count (nullable propagation, not a crash)") {
    val df = Seq(Some("the"), None).toDF("text")
    val got = df.select(Bpe.bpe_token_count($"text", Bpe.pinned)).collect()
    assert(got(0).getLong(0) == 1L)
    assert(got(1).isNullAt(0))
  }

  test("training learns the Sennrich-class merge sequence on a constructed corpus") {
    // word freqs: low×5, lower×2, newest×6, widest×3. Pair counts give
    // (e,s)=9 tied with (s,t)=9 → l-asc tie-break picks (e,s); then
    // (es,t)=9; then (l,o)=7 tied with (o,w)=7 → (l,o); then (lo,w)=7.
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).toDF("text")
    val merges = BpeQueries.trainBpeMergesFrom(docs, nMerges = 4,
      dictSize = 65536, minFreq = 2L)
    assert(merges == Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w"))
  }

  test("training early-exits below minFreq instead of learning noise") {
    val docs = Seq("ab", "cd", "ef").toDF("text")
    val merges = BpeQueries.trainBpeMergesFrom(docs, nMerges = 8,
      dictSize = 65536, minFreq = 2L)
    assert(merges.isEmpty)
  }

  test("argmax ties break in UTF-8 byte order, where String.compareTo disagrees") {
    // U+1F600 is UTF-16 D83D DE00 but UTF-8 F0…; U+FF21 is UTF-16 FF21
    // but UTF-8 EF…: only UTF-8 bytes (Spark's order) put U+FF21 first
    val emoji = "😀"
    val wide = "Ａ"
    assert(emoji.compareTo(wide) < 0, "the two orders must disagree on this pair")
    assert(Seq(emoji, wide).toDF("s").orderBy($"s").as[String].collect().head == wide,
      "Spark orders the fullwidth letter first")
    // round 1 fuses the surrogate halves (15); round 2 ties 5-5
    val dict = Array(emoji -> 10L, s"${emoji}b" -> 5L, s"${wide}b" -> 5L)
    val merges = BpeQueries.trainMergesLocal(dict, nMerges = 2, minFreq = 1L)
    assert(merges == Seq("\uD83D" -> "\uDE00", wide -> "b"))
  }

  test("dictionary cap keeps the fixpoint bounded and deterministic") {
    // cap to the 1 most frequent word: only its internal pairs train
    val docs = (Seq.fill(9)("abab") ++ Seq.fill(3)("zzzz")).toDF("text")
    val merges = BpeQueries.trainBpeMergesFrom(docs, nMerges = 2,
      dictSize = 1, minFreq = 2L)
    assert(merges == Seq("a" -> "b", "ab" -> "ab"))
  }

  test("stored merges table: verifying read rejects a stale artifact; q97 gate rebuilds") {
    val src = java.nio.file.Files.createTempDirectory("graft-bpe-stale").toString
    val tbl = s"graft_bpe_fresh_${System.nanoTime()}"
    val orig = spark.read.parquet(s"$sf/documents.parquet")
    try {
      replaceSnapshot(orig, src, "documents")
      BpeQueries.buildBpeTable(spark, src, tbl)
      // fresh: verifying read answers with a rank-ordered table
      val t = BpeQueries.loadBpeTable(spark, tbl, src)
      assert(t.size > 0)
      // the corpus is REPLACED under the same path (one doc dropped)
      val maxId = orig.agg(max($"doc_id")).head().getLong(0)
      replaceSnapshot(orig.filter($"doc_id" =!= maxId), src, "documents")
      val e = intercept[IllegalArgumentException] {
        BpeQueries.loadBpeTable(spark, tbl, src)
      }
      assert(e.getMessage.contains("different source snapshot"), e.getMessage)
      // the q97 lifecycle entry rebuilds instead of serving stale
      val row = BpeQueries.bpeStoredEncode(spark, src).head()
      assert(row.getAs[Boolean]("roundtrip_ok"))
      assert(row.getAs[Boolean]("trained_bounds_ok"))
      // the TRAINED artifact drives the budget operator end-to-end:
      // same operator the pinned-table q98 registers, different table
      val rebuilt = Artifacts.name("bpe_q97", src)
      val trained = BpeQueries.loadBpeTable(spark, rebuilt, src)
      val sel = graft.queries.TrainQueries.budgetSelectWith(spark, src, 300L,
        graft.functions.Bpe.bpe_token_count(col("text"), trained))
      val n = sel.count()
      val total = spark.read.parquet(s"$src/documents.parquet").count()
      assert(n > 0 && n < total, s"trained-table budget must bind: $n of $total")
      assert(sel.agg(max($"cum_tokens")).head().getLong(0) <= 300L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${Artifacts.name("bpe_q97", src)}")
      FileUtils.deleteQuietly(new File(src))
    }
  }

  test("q98/q99 plan the NATIVE expression: BpeTokenCount present, no ScalaUDF") {
    for (df <- Seq(BpeQueries.bpeBudgetSelect(spark, sf),
                   BpeQueries.bpePack(spark, sf))) {
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.collect { case n => n.expressions }.flatten
        .flatMap(e => e +: e.children.flatMap(_.collect { case c => c }))
      assert(exprs.exists(_.isInstanceOf[graft.functions.BpeTokenCount]),
        "the token cost must be the codegen'd BpeTokenCount expression")
      val s = plan.toString.toLowerCase
      assert(!s.contains("scalaudf"), "no UDF may carry the BPE cost")
    }
  }

  test("q98/q99 budgets BIND on the test fixture (non-vacuous branches)") {
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    val sel = BpeQueries.bpeBudgetSelect(spark, sf, budget = 300L).count()
    assert(sel > 0 && sel < total, s"budget must bind: selected $sel of $total")
    val packs = BpeQueries.bpePack(spark, sf, budget = 256L)
      .groupBy($"source").count().agg(max($"count")).head().getLong(0)
    assert(packs > 1, "pack budget must split at least one source into multiple packs")
  }

  test("q125 fertility: covers every language, ratio consistent with its own integers") {
    val rows = BpeQueries.bpeFertility(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
    val langs = Tables.documents(spark, sf).select("lang").distinct().count()
    assert(rows.length == langs, "one row per language")
    assert(rows.map(_._2).sum == Tables.documents(spark, sf).count())
    rows.foreach { case (lang, _, st, w, f) =>
      assert(w > 0, s"$lang: wordless group on the fixture is unexpected")
      // the emitted ratio is exactly the half-up 4 dp division of the
      // row's own integer columns (no hidden float path)
      val want = ((20000L * st + w) / (2L * w)) / 10000.0
      assert(f == want, s"$lang: fertility $f != recomputed $want")
      // every whitespace word decodes to ≥1 subword piece on this corpus
      assert(st >= w, s"$lang: subword tokens $st < words $w")
    }
  }
}
