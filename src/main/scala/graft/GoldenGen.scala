package graft

/** One-shot generator for SentimentSpec's pinned fixture goldens. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", graft.queries.TextQueries.cleanText($"text").as("c"))
      .orderBy($"doc_id").limit(60)
      .as[(Long, String)].collect()
    docs.foreach { case (id, clean) =>
      val v = graft.functions.Vader.score(clean)
      val t = graft.functions.TextBlobOps.score(clean)
      println(f"($id%dL, ${v.compound}%.4f, ${v.positive}%.3f, ${v.negative}%.3f, ${v.neutral}%.3f, ${t.polarity}%.4f, ${t.subjectivity}%.4f),")
    }
    // corpus-level drift lock over ALL sf0.001 docs (SentimentSpec)
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", graft.queries.TextQueries.cleanText($"text").as("c"))
      .orderBy($"doc_id").as[(Long, String)].collect()
    var sumComp = 0.0; var sumPol = 0.0
    var nPos = 0; var nNeg = 0; var nNonzeroTb = 0
    all.foreach { case (_, clean) =>
      val v = graft.functions.Vader.score(clean)
      val t = graft.functions.TextBlobOps.score(clean)
      sumComp += v.compound; sumPol += t.polarity
      if (v.compound >= 0.05) nPos += 1
      if (v.compound <= -0.05) nNeg += 1
      if (t.polarity != 0.0) nNonzeroTb += 1
    }
    println(f"AGG n=${all.length} sumComp=${math.rint(sumComp * 100) / 100}%.2f " +
      f"nPos=$nPos nNeg=$nNeg sumPol=${math.rint(sumPol * 100) / 100}%.2f nNonzeroTb=$nNonzeroTb " +
      s"lexiconSize=${graft.functions.Vader.lexicon.size}")
    spark.stop()
  }
}
