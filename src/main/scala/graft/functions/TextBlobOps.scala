package graft.functions

/** TextBlob-style pattern-lexicon sentiment (SURVEY C8).
  *
  * Re-implements the averaging algorithm of TextBlob's
  * `PatternAnalyzer` (the library the reference calls at
  * sentiment_analysis.py:249-272): each lexicon word carries
  * (polarity ∈ [−1,1], subjectivity ∈ [0,1]); document polarity /
  * subjectivity are the arithmetic means over matched words, with
  * preceding-word modifiers:
  *  - intensifiers multiply the next match's polarity and
  *    subjectivity by 1.3 (capped into range);
  *  - negators multiply the next match's polarity by −0.5.
  *
  * The en-sentiment.xml lexicon ships with the pip package and is not
  * reproducible offline; this embeds a compact subset (same coverage
  * rationale as [[Vader]]). Empty/null/no-match → (0.0, 0.0), matching
  * the reference's error default (sentiment_analysis.py:268-272).
  */
object TextBlobOps extends Serializable {

  final case class Scores(polarity: Double, subjectivity: Double)
  val Neutral: Scores = Scores(0.0, 0.0)

  // (polarity, subjectivity) — curated entries, kept VERBATIM and
  // layered with highest precedence over the [[VaderLexicon]]-derived
  // expansion (see `lexicon` below).
  private[graft] val curated: Map[String, (Double, Double)] = Map(
    "love" -> (0.5, 0.6), "loved" -> (0.7, 0.8), "lovely" -> (0.5, 0.75),
    "amazing" -> (0.6, 0.9), "awesome" -> (1.0, 1.0), "excellent" -> (1.0, 1.0),
    "fantastic" -> (0.4, 0.9), "great" -> (0.8, 0.75), "good" -> (0.7, 0.6),
    "best" -> (1.0, 0.3), "better" -> (0.5, 0.5), "happy" -> (0.8, 1.0),
    "glad" -> (0.5, 1.0), "excited" -> (0.375, 0.75), "exciting" -> (0.3, 0.8),
    "perfect" -> (1.0, 1.0), "nice" -> (0.6, 1.0), "cool" -> (0.35, 0.65),
    "beautiful" -> (0.85, 1.0), "brilliant" -> (0.9, 0.9), "wonderful" -> (1.0, 1.0),
    "super" -> (0.3, 0.3), "fun" -> (0.3, 0.2), "funny" -> (0.25, 1.0),
    "strong" -> (0.4, 0.5), "impressive" -> (1.0, 1.0), "easy" -> (0.43, 0.83),
    "free" -> (0.4, 0.8), "useful" -> (0.3, 0.0), "helpful" -> (0.4, 0.0),
    "fast" -> (0.2, 0.6), "reliable" -> (0.3, 0.4), "delicious" -> (1.0, 1.0),
    "favorite" -> (0.5, 0.6), "epic" -> (0.6, 0.8), "proud" -> (0.6, 0.8),
    "new" -> (0.136, 0.45), "special" -> (0.357, 0.57), "okay" -> (0.5, 0.5),
    "ok" -> (0.5, 0.5), "interesting" -> (0.5, 0.5), "pretty" -> (0.25, 1.0),
    "hate" -> (-0.8, 0.9), "hated" -> (-0.9, 0.7), "terrible" -> (-1.0, 1.0),
    "terribel" -> (-1.0, 1.0), "awful" -> (-1.0, 1.0), "horrible" -> (-1.0, 1.0),
    "bad" -> (-0.7, 0.67), "worse" -> (-0.5, 0.5), "worst" -> (-1.0, 1.0),
    "sad" -> (-0.5, 1.0), "unhappy" -> (-0.6, 0.8), "angry" -> (-0.5, 1.0),
    "mad" -> (-0.625, 0.9), "furious" -> (-0.8, 0.9), "fail" -> (-0.5, 0.5),
    "failed" -> (-0.6, 0.6), "failure" -> (-0.6, 0.6), "broken" -> (-0.4, 0.5),
    "slow" -> (-0.3, 0.4), "expensive" -> (-0.25, 0.7), "poor" -> (-0.4, 0.6),
    "disappointing" -> (-0.6, 0.7), "disappointed" -> (-0.75, 0.75),
    "boring" -> (-1.0, 1.0), "annoying" -> (-0.8, 1.0), "ugly" -> (-0.7, 1.0),
    "stupid" -> (-0.8, 0.9), "dumb" -> (-0.7, 0.8), "useless" -> (-0.5, 0.4),
    "wrong" -> (-0.5, 0.5), "disgusting" -> (-1.0, 1.0), "gross" -> (-0.6, 0.9),
    "pathetic" -> (-1.0, 1.0), "dead" -> (-0.2, 0.4), "old" -> (0.1, 0.2),
    "small" -> (-0.25, 0.4), "big" -> (0.0, 0.1), "hard" -> (-0.29, 0.54),
    // --- coverage expansion:
    // most-frequent pattern-lexicon adjectives/adverbs, (polarity,
    // subjectivity) pairs in en-sentiment.xml's value neighborhoods.
    // Entries above are kept verbatim so existing goldens stay stable.
    "able" -> (0.5, 0.625), "active" -> (0.1, 0.3), "adorable" -> (0.6, 0.9),
    "afraid" -> (-0.6, 0.9), "alone" -> (-0.2, 0.5),
    "annoyed" -> (-0.6, 0.9), "anxious" -> (-0.4, 0.9), "apparent" -> (0.0, 0.5),
    "ashamed" -> (-0.5, 0.9), "attractive" -> (0.5, 1.0), "available" -> (0.4, 0.5),
    "average" -> (-0.15, 0.4), "aware" -> (0.1, 0.6), "bitter" -> (-0.4, 0.7),
    "bright" -> (0.5, 0.65), "brave" -> (0.6, 0.9), "busy" -> (-0.1, 0.3),
    "calm" -> (0.3, 0.7), "capable" -> (0.4, 0.6), "careful" -> (0.2, 0.7),
    "careless" -> (-0.4, 0.6), "certain" -> (0.2, 0.6), "cheap" -> (0.0, 0.6),
    "cheerful" -> (0.7, 1.0), "clean" -> (0.4, 0.65), "clear" -> (0.1, 0.35),
    "clever" -> (0.6, 0.8), "comfortable" -> (0.5, 0.7), "common" -> (-0.1, 0.5),
    "complete" -> (0.2, 0.35), "confident" -> (0.5, 0.8), "confused" -> (-0.3, 0.8),
    "convenient" -> (0.4, 0.6), "correct" -> (0.3, 0.4), "crazy" -> (-0.6, 0.9),
    "creative" -> (0.5, 0.8), "cruel" -> (-0.8, 0.9), "curious" -> (0.3, 0.7),
    "cute" -> (0.5, 1.0), "dangerous" -> (-0.6, 0.9), "dark" -> (-0.15, 0.4),
    "decent" -> (0.3, 0.6), "deep" -> (0.0, 0.4), "delighted" -> (0.8, 1.0),
    "depressed" -> (-0.7, 0.9), "desperate" -> (-0.5, 0.8), "difficult" -> (-0.5, 1.0),
    "dirty" -> (-0.6, 0.8), "dreadful" -> (-1.0, 1.0), "dry" -> (-0.1, 0.4),
    "eager" -> (0.4, 0.8), "early" -> (0.1, 0.3), "effective" -> (0.6, 0.8),
    "embarrassed" -> (-0.4, 0.8), "empty" -> (-0.2, 0.5), "enormous" -> (0.3, 0.8),
    "essential" -> (0.4, 0.7), "evil" -> (-1.0, 1.0), "exact" -> (0.2, 0.7),
    "expert" -> (0.4, 0.6), "extraordinary" -> (0.6, 0.9), "extreme" -> (-0.1, 0.8),
    "familiar" -> (0.2, 0.5), "famous" -> (0.4, 0.6), "fancy" -> (0.3, 0.8),
    "fascinating" -> (0.7, 0.9), "fit" -> (0.3, 0.6), "flawless" -> (0.9, 1.0),
    "foolish" -> (-0.6, 0.9), "fortunate" -> (0.6, 0.8), "fragile" -> (-0.3, 0.7),
    "frequent" -> (0.1, 0.4), "friendly" -> (0.5, 0.7), "frustrated" -> (-0.6, 0.9),
    "generous" -> (0.6, 0.8), "gentle" -> (0.5, 0.8), "genuine" -> (0.5, 0.7),
    "gorgeous" -> (0.8, 1.0), "graceful" -> (0.6, 0.9), "grateful" -> (0.6, 0.8),
    "guilty" -> (-0.5, 0.9), "harmful" -> (-0.6, 0.8), "harsh" -> (-0.5, 0.8),
    "healthy" -> (0.5, 0.6), "heavy" -> (-0.2, 0.5), "helpless" -> (-0.4, 0.7),
    "honest" -> (0.6, 0.8), "hopeful" -> (0.5, 0.8), "hopeless" -> (-0.7, 0.9),
    "huge" -> (0.2, 0.6), "hungry" -> (-0.2, 0.5), "ideal" -> (0.8, 0.9),
    "ill" -> (-0.5, 0.7), "important" -> (0.4, 0.6), "incredible" -> (0.9, 0.9),
    "innocent" -> (0.3, 0.7), "insane" -> (-0.6, 0.9), "intelligent" -> (0.7, 0.8),
    "intense" -> (0.2, 0.8), "jealous" -> (-0.5, 0.9), "kind" -> (0.6, 0.9),
    "late" -> (-0.3, 0.6), "lazy" -> (-0.4, 0.8), "light" -> (0.2, 0.5),
    "likely" -> (0.0, 0.7), "lonely" -> (-0.5, 0.8), "loud" -> (-0.2, 0.6),
    "lucky" -> (0.6, 0.8), "magnificent" -> (0.9, 0.9), "miserable" -> (-0.8, 1.0),
    "modern" -> (0.2, 0.4), "narrow" -> (-0.1, 0.4), "natural" -> (0.2, 0.4),
    "neat" -> (0.5, 0.8), "necessary" -> (0.2, 0.5), "negative" -> (-0.3, 0.6),
    "nervous" -> (-0.4, 0.8), "normal" -> (0.1, 0.4), "obvious" -> (0.0, 0.5),
    "odd" -> (-0.25, 0.7), "offensive" -> (-0.7, 0.9), "open" -> (0.1, 0.4),
    "ordinary" -> (-0.1, 0.5), "original" -> (0.4, 0.6), "outstanding" -> (0.9, 0.9),
    "painful" -> (-0.7, 0.9), "pale" -> (-0.1, 0.4), "peaceful" -> (0.6, 0.8),
    "perfectly" -> (1.0, 1.0), "pleasant" -> (0.6, 0.8), "polite" -> (0.5, 0.7),
    "popular" -> (0.4, 0.6), "positive" -> (0.5, 0.7), "powerful" -> (0.5, 0.7),
    "precious" -> (0.6, 0.8), "proper" -> (0.3, 0.5), "quick" -> (0.3, 0.5),
    "quiet" -> (0.1, 0.5), "rare" -> (0.2, 0.6), "raw" -> (-0.1, 0.5),
    "ready" -> (0.3, 0.5), "recent" -> (0.1, 0.3), "remarkable" -> (0.7, 0.8),
    "ridiculous" -> (-0.6, 0.9), "rough" -> (-0.3, 0.7), "rude" -> (-0.6, 0.9),
    "safe" -> (0.4, 0.5), "satisfied" -> (0.5, 0.7), "scared" -> (-0.6, 0.9),
    "scary" -> (-0.6, 0.9), "selfish" -> (-0.6, 0.9), "serious" -> (-0.1, 0.6),
    "severe" -> (-0.5, 0.8), "sharp" -> (0.2, 0.6), "shy" -> (-0.2, 0.7),
    "sick" -> (-0.7, 0.9), "significant" -> (0.4, 0.7), "silly" -> (-0.3, 0.9),
    "simple" -> (0.0, 0.35), "sincere" -> (0.5, 0.7), "smart" -> (0.6, 0.8),
    "smooth" -> (0.4, 0.7), "soft" -> (0.3, 0.6), "solid" -> (0.3, 0.5),
    "sorry" -> (-0.5, 1.0), "spectacular" -> (0.8, 0.9), "steady" -> (0.3, 0.5),
    "strange" -> (-0.25, 0.8), "stressful" -> (-0.6, 0.8), "strict" -> (-0.3, 0.6),
    "stunning" -> (0.8, 1.0), "successful" -> (0.6, 0.8), "sudden" -> (-0.1, 0.6),
    "sufficient" -> (0.3, 0.5), "suitable" -> (0.3, 0.5), "superb" -> (0.9, 0.9),
    "sure" -> (0.5, 0.9), "surprising" -> (0.3, 0.8), "suspicious" -> (-0.4, 0.8),
    "sweet" -> (0.5, 0.75), "talented" -> (0.6, 0.8), "terrific" -> (0.8, 0.9),
    "thankful" -> (0.6, 0.8), "thorough" -> (0.4, 0.6), "tight" -> (-0.1, 0.5),
    "tiny" -> (-0.1, 0.5), "tired" -> (-0.4, 0.7), "tough" -> (-0.3, 0.7),
    "tragic" -> (-0.8, 0.9), "typical" -> (0.0, 0.5), "unable" -> (-0.4, 0.7),
    "uncomfortable" -> (-0.5, 0.8), "unexpected" -> (-0.1, 0.7),
    "unique" -> (0.4, 0.75), "unlikely" -> (-0.2, 0.7), "unusual" -> (-0.1, 0.7),
    "upset" -> (-0.5, 0.9), "urgent" -> (-0.2, 0.7), "usual" -> (0.0, 0.4),
    "valuable" -> (0.5, 0.7), "vast" -> (0.3, 0.7), "vital" -> (0.5, 0.8),
    "warm" -> (0.5, 0.7), "weak" -> (-0.5, 0.7), "weird" -> (-0.4, 0.9),
    "wide" -> (0.1, 0.4), "wild" -> (-0.2, 0.7), "wise" -> (0.6, 0.8),
    "worried" -> (-0.5, 0.8), "worthy" -> (0.5, 0.7), "young" -> (0.1, 0.3),
  )

  /** Full pattern lexicon: en-sentiment.xml is pip-only (see
    * [[VaderLexicon]]'s provenance note — the same in-sandbox
    * impossibility applies), so broad coverage is DERIVED from the
    * reconstructed VADER vocabulary: polarity = valence/3.3 clamped
    * to [−1,1] (both scales are human-rated sentiment means; the
    * linear map preserves sign and relative strength), subjectivity
    * = 0.4 + 0.6·|polarity| capped at 1.0 (strongly polar words are
    * rated more subjective in the shipped file). Curated entries win.
    * Values are rounded to 2 dp to keep the derivation stable. */
  private[graft] lazy val lexicon: Map[String, (Double, Double)] = {
    def r2(x: Double) = math.rint(x * 100) / 100
    // modifier words must not double as lexicon matches: a polarity
    // entry for "really"/"not" would dilute the mean AND fire the
    // modifier, making "really bad" read LESS negative than "bad"
    val derived = (VaderLexicon.full -- intensifiers -- negators)
      .map { case (w, v) =>
        val pol = r2(clamp(v / 3.3, -1.0, 1.0))
        w -> (pol, r2(math.min(1.0, 0.4 + 0.6 * math.abs(pol))))
      }
    derived ++ curated
  }

  private val intensifiers: Set[String] = Set(
    "very", "really", "extremely", "so", "absolutely", "completely",
    "highly", "incredibly", "totally", "utterly", "quite", "too",
  )
  private val negators: Set[String] = Set(
    "not", "never", "no", "nothing", "neither", "nor",
    "dont", "don't", "doesnt", "doesn't", "isnt", "isn't", "wasnt",
    "wasn't", "cant", "can't", "cannot", "wont", "won't",
  )

  private def clamp(x: Double, lo: Double, hi: Double): Double =
    if (x < lo) lo else if (x > hi) hi else x

  /** Score one document: mean (polarity, subjectivity) over lexicon
    * matches with modifier handling. Pure, total, deterministic. */
  def score(text: String): Scores = {
    if (text == null) return Neutral
    val words = text.trim.toLowerCase.split("\\s+").toIndexedSeq
      .map(_.filter(c => c.isLetterOrDigit || c == '\'')).filter(_.nonEmpty)
    if (words.isEmpty) return Neutral

    var pSum = 0.0; var sSum = 0.0; var n = 0
    var i = 0
    while (i < words.length) {
      lexicon.get(words(i)).foreach { case (p0, s0) =>
        var p = p0; var sub = s0
        if (i > 0) {
          val prev = words(i - 1)
          if (intensifiers.contains(prev)) { p = clamp(p * 1.3, -1.0, 1.0); sub = clamp(sub * 1.3, 0.0, 1.0) }
          else if (negators.contains(prev)) p = p * -0.5
        }
        pSum += p; sSum += sub; n += 1
      }
      i += 1
    }
    if (n == 0) Neutral
    else Scores(math.rint(pSum / n * 10000) / 10000, math.rint(sSum / n * 10000) / 10000)
  }
}
