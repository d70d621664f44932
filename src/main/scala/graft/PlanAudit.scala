package graft

/** Prints formatted physical plans for selected declared queries — the
  * scale audit loop: check pushed filters, read schemas, broadcast vs
  * shuffle joins, and absence of single-partition exchanges. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_lineitem_agg", "q22_tokens", "q24_extract_regex_tok",
        "q28_overlap_join", "q75_overlap_rule", "q14_minhash_pairs",
        "q18_ann_brute", "q31_iob_to_spans", "q73_hash_split")
    val spark = GraftSession.local(4)
    names.foreach { n =>
      println(s"########## $n")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
