package graft

/** IVF geometry probe (the recall sibling of a Bench subset run):
  * sweep explicit `(k, nprobe)` settings over the q58 audit
  * ([[graft.queries.SimilarityQueries.ivfNnAudited]]) on a given
  * fixture and print recall@1 plus wall seconds per setting — the
  * measured curve the `spark.graft.ivf.{k,nprobe} = auto` sizing
  * rules are derived from (an auto rule that silently sinks the
  * q58 recall floor at scale would be a regression the priced-SF
  * oracles cannot see).
  *
  * Usage: runMain graft.IvfProbe <sfDir> <k:np> [<k:np> ...]
  *        (`auto:auto` probes the resolver's own choice)
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session.local()
    for (spec <- args.drop(1)) {
      val Array(k, np) = spec.split(":")
      if (k == "auto") spark.conf.unset("spark.graft.ivf.k")
      else spark.conf.set("spark.graft.ivf.k", k)
      if (np == "auto") spark.conf.unset("spark.graft.ivf.nprobe")
      else spark.conf.set("spark.graft.ivf.nprobe", np)
      val t0 = System.nanoTime()
      val r = queries.SimilarityQueries.ivfNnAudited(spark, dir).head()
      val sec = (System.nanoTime() - t0) / 1e9
      val names = r.schema.fieldNames.zipWithIndex.toMap
      println(f"[ivfprobe] k=$k np=$np recall=${r.getDouble(names("recall"))}%.3f " +
        f"answered=${r.getLong(names("n_answered"))}/${r.getLong(names("n_sample"))} " +
        f"rerank_exact=${r.getBoolean(names("rerank_exact"))} wall=$sec%.1f s")
    }
    spark.stop()
  }
}
