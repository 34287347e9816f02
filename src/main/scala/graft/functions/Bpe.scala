package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding (BPE) subword tokenization — the token-budget
  * currency a real training pipeline ships. The
  * reference has no tokenizer at all (its Python services count
  * nothing below whitespace words), so the semantics here are the
  * classic published BPE (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"):
  *
  *  - **Pre-tokenization**: `\w+|[^\w\s]` — the same regex the q70
  *    oracle already cross-verified between Java regex and RE2 (both
  *    ASCII `\w`). Merges operate WITHIN `\w+` pre-tokens only;
  *    `[^\w\s]` pre-tokens are atomic single-char tokens. This keeps
  *    every mergeable symbol inside `[0-9A-Za-z_]`, which is what
  *    makes the DuckDB oracle's space-delimited fold well-formed
  *    (tokens can never contain the delimiter).
  *  - **Encode** ([[Bpe.encodeWord]]): sequential rank application —
  *    for each merge (l, r) in learned rank order, replace every
  *    LEFTMOST NON-OVERLAPPING occurrence of the adjacent pair with
  *    the fused token (the original subword-nmt `apply_bpe` loop).
  *    Whitespace is dropped by the pre-tokenizer (word-internal BPE,
  *    not byte-level GPT-2), so the lossless round-trip identity is
  *    `concat(tokens) == concat(pre-tokens)` — pinned by q97.
  *  - **Fold form** (the oracle side): the same pass is exactly a
  *    left fold `acc = if (acc endsWith-token l && x == r) acc ++ x
  *    else acc ++ " " ++ x` over the token list. The fused token
  *    `l+r` can never re-match as `l` within the same pass (r is
  *    non-empty and tokens contain no delimiter), so fold ≡ scan —
  *    BpeSpec fuzzes the two implementations against each other, and
  *    the q97/q98/q99 oracles hold DuckDB's `list_reduce` rendering
  *    to the same answers.
  *
  * Scale: encode is pure per-row map-side work (no state, no
  * shuffle); the merge table rides along as one small referenced
  * object (≤ a few hundred rows) — the classic pair-indexed priority
  * queue would be faster per word but the table here is bounded by
  * `BpeQueries.MergesN`, keeping the O(ranks × word_len) loop
  * cache-resident.
  */
object Bpe {

  /** An ordered BPE merge table. `merges` is rank-ordered (rank 1
    * first). Case class so expressions holding a table compare
    * structurally (Catalyst semanticEquals / plan canonicalization). */
  final case class BpeTable(merges: Seq[(String, String)]) {
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "BPE merge sides must be non-empty")
    @transient lazy val left: Array[String] = merges.map(_._1).toArray
    @transient lazy val right: Array[String] = merges.map(_._2).toArray
    @transient lazy val fused: Array[String] = merges.map { case (l, r) => l + r }.toArray
    def size: Int = merges.size
  }

  /** The PINNED merge table: a fixed, human-authored 32-merge table
    * over common English digraphs, the cross-engine exactness anchor.
    * The TRAINED artifact (BpeQueries) exercises training + the
    * persisted-table lifecycle; this table exercises the ENCODER
    * bit-for-bit against DuckDB — same expression, different table —
    * so q97's `pinned_tokens`, q98's selection, and q99's packing are
    * hash-matched numbers, not pinned booleans. Each merge's sides
    * are constructible at their rank (e.g. 'for' needs 'or' learned
    * earlier); 'll'/'oo'/'ee'/'ss'/'tt' pin the leftmost-pairing rule
    * on runs. ONE definition: [[pinnedSqlList]] renders THIS seq. */
  val pinnedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "r", "e" -> "n",
    "a" -> "t", "e" -> "s", "o" -> "u", "i" -> "t", "i" -> "s",
    "a" -> "l", "a" -> "r", "s" -> "t", "t" -> "o", "n" -> "t",
    "e" -> "d", "in" -> "g", "o" -> "f", "l" -> "l", "o" -> "o",
    "e" -> "e", "s" -> "s", "t" -> "t", "f" -> "or", "th" -> "at",
    "w" -> "it", "wit" -> "h")

  val pinned: BpeTable = BpeTable(pinnedMerges)

  /** One leftmost non-overlapping merge-all pass of (l, r) → l+r. */
  private[graft] def mergePass(
      toks: ArrayBuffer[String], l: String, r: String, fused: String): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String](toks.length)
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += fused; i += 2
      } else {
        out += toks(i); i += 1
      }
    }
    out
  }

  /** Encode one `\w+` pre-token: chars → sequential rank application. */
  def encodeWord(word: String, t: BpeTable): ArrayBuffer[String] = {
    val (cuts, m) = encodeWordCuts(word, t)
    val out = new ArrayBuffer[String](m)
    var i = 0
    while (i < m) { out += word.substring(cuts(i), cuts(i + 1)); i += 1 }
    out
  }

  /** The encode loop over CUT POINTS instead of string buffers: a
    * word's token sequence is always a partition of the word into
    * contiguous substrings, so the whole state is the ascending
    * cut-position array — token i is
    * word[cuts(i), cuts(i+1)). One merge pass compares each token to
    * (l, r) via regionMatches and drops the cut between a matching
    * adjacent pair, left to right — EXACTLY [[mergePass]] on the
    * materialized strings (fused = concatenation of adjacent ranges;
    * leftmost non-overlapping because a merged pair is skipped
    * whole), but with zero per-pass allocation where the string form
    * allocated a buffer of boxed per-char Strings plus a new buffer
    * per rank (~300 µs/doc at the fixture's word lengths — the
    * dominant warm cost of the whole BPE query family). Fuzz-pinned
    * ≡ the string form in BpeSpec. Returns (cuts, token count);
    * `cuts(0) = 0`, `cuts(m) = word.length`. */
  private def encodeWordCuts(word: String, t: BpeTable): (Array[Int], Int) = {
    val len = word.length
    var cuts = new Array[Int](len + 1)
    var next = new Array[Int](len + 1)
    var m = len // token count
    var i = 0
    while (i <= len) { cuts(i) = i; i += 1 }
    val n = t.left.length
    var rank = 0
    while (rank < n && m > 1) {
      val l = t.left(rank); val r = t.right(rank)
      val ll = l.length; val rl = r.length
      var in = 0   // token index in cuts
      var out = 0  // token index in next
      next(0) = 0
      while (in < m) {
        if (in + 1 < m &&
            cuts(in + 1) - cuts(in) == ll &&
            cuts(in + 2) - cuts(in + 1) == rl &&
            word.regionMatches(cuts(in), l, 0, ll) &&
            word.regionMatches(cuts(in + 1), r, 0, rl)) {
          next(out + 1) = cuts(in + 2); in += 2
        } else {
          next(out + 1) = cuts(in + 1); in += 1
        }
        out += 1
      }
      if (out < m) { val tmp = cuts; cuts = next; next = tmp; m = out }
      rank += 1
    }
    (cuts, m)
  }

  // ASCII \w / \s, matching RE2's default classes (the q70-proven
  // cross-engine agreement; non-ASCII letters are atomic [^\w\s]
  // pre-tokens on both sides)
  private val preToken = java.util.regex.Pattern.compile("\\w+|[^\\w\\s]")

  /** A pre-token from the `\w+|[^\w\s]` alternation is a `\w+` word
    * iff its FIRST char is an ASCII word char (the alternation
    * guarantees all-word-chars or a single non-word char) — the same
    * predicate the former full `\w+` re-match decided, without a
    * second regex pass per pre-token. */
  @inline private def isWordToken(p: String): Boolean = {
    val c = p.charAt(0)
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
  }

  /** Doc-level token count: Σ encodeWord over `\w+` pre-tokens +
    * one token per `[^\w\s]` pre-token. Counts via the cut-point
    * encoder — no token strings are materialized to be counted. */
  def countDoc(text: UTF8String, t: BpeTable): Long = {
    if (text == null) return 0L
    val m = preToken.matcher(text.toString)
    var total = 0L
    while (m.find()) {
      val p = m.group()
      total += (if (isWordToken(p)) encodeWordCuts(p, t)._2 else 1)
    }
    total
  }

  /** Doc-level encode: pre-tokens in order, words expanded to their
    * merged subword tokens. `concat(result) == concat(pre-tokens)`
    * always (merging only fuses adjacent symbols) — the q97
    * round-trip identity. */
  def encodeDocArray(text: UTF8String, t: BpeTable): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val m = preToken.matcher(text.toString)
    val out = new ArrayBuffer[Any]()
    while (m.find()) {
      val p = m.group()
      if (isWordToken(p))
        encodeWord(p, t).foreach(s => out += UTF8String.fromString(s))
      else out += UTF8String.fromString(p)
    }
    new GenericArrayData(out.toArray)
  }

  def bpe_token_count(c: Column, table: BpeTable): Column =
    GraftColumnBridge.column(BpeTokenCount(GraftColumnBridge.expression(c), table))

  def bpe_encode(c: Column, table: BpeTable): Column =
    GraftColumnBridge.column(BpeEncode(GraftColumnBridge.expression(c), table))

  // ---------------------------------------------------------------- //
  // DuckDB rendering — the ONE oracle-side definition (the
  // fingerprintSql rule). Encode-as-fold: outer fold threads the
  // space-delimited symbol string of one word through the rank-ordered
  // merge list ('l r' strings — word chars never contain a space);
  // inner fold is the merge-all pass proven ≡ the scan above.
  // ---------------------------------------------------------------- //

  /** The pinned table as a DuckDB list literal of 'l r' strings. */
  def pinnedSqlList: String =
    pinnedMerges.map { case (l, r) => s"'$l $r'" }.mkString("list_value(", ", ", ")")

  /** DuckDB expression: BPE token count of one `\w+` word under an
    * arbitrary merges-LIST expression (elements are 'l r' strings in
    * rank order — a literal for the pinned table, a trained/re-derived
    * list column for q101). */
  private def wordTokensSql(w: String, mergesList: String): String =
    s"""len(string_split(list_reduce(
       |  list_prepend(array_to_string(string_split($w, ''), ' '), $mergesList),
       |  (st, m) -> list_reduce(
       |    string_split(st, ' '),
       |    (acc, x) -> CASE WHEN ends_with(' ' || acc, ' ' || split_part(m, ' ', 1))
       |                      AND x = split_part(m, ' ', 2)
       |                THEN acc || x ELSE acc || ' ' || x END)), ' '))""".stripMargin

  /** DuckDB rendering of [[countDoc]] over an arbitrary SQL string
    * expression, under any merges-list expression. */
  def tokenCountSqlWith(input: String, mergesList: String): String =
    s"""(COALESCE(list_sum(list_transform(regexp_extract_all($input, '\\w+'),
       |    w -> ${wordTokensSql("w", mergesList)})), 0)
       |  + len(regexp_extract_all($input, '[^\\w\\s]')))""".stripMargin

  /** [[tokenCountSqlWith]] under the PINNED table. */
  def pinnedTokenCountSql(input: String): String =
    tokenCountSqlWith(input, pinnedSqlList)
}

/** `bpe_token_count(text)` under a fixed merge table → BIGINT. Fully
  * codegen'd: the table rides as a codegen reference object and the
  * generated code calls the same static encoder `eval` uses. */
case class BpeTokenCount(child: Expression, table: Bpe.BpeTable)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count requires a string argument, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    Bpe.countDoc(v.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table, classOf[Bpe.BpeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Bpe.countDoc($c, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `bpe_encode(text)` under a fixed merge table → ARRAY<STRING> of
  * subword tokens in pre-token order. */
case class BpeEncode(child: Expression, table: Bpe.BpeTable)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires a string argument, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    Bpe.encodeDocArray(v.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table, classOf[Bpe.BpeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Bpe.encodeDocArray($c, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
