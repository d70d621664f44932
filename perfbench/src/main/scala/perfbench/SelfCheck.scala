package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's own checks (`run.py --selfcheck`):
 *  - the same seed gives byte-identical inputs;
 *  - another seed gives different inputs of the same size;
 *  - a real operation passes its ground-truth checks, and each check
 *    fails when handed that operation's output damaged in a planted way.
 */
object SelfCheck {
  private val SizeKeys = Set("docs", "seed_docs", "batch_docs", "dim", "eval_docs", "shards")

  def run(spark: SparkSession, seed: Long, work: String): Int = {
    val fails = mutable.ArrayBuffer.empty[String]
    Workloads.Names.foreach { name =>
      def factsOf(s: Long, tag: String) = {
        val w = Workloads.make(name, spark, s)
        w.setup(s"$work/selfcheck-$name-$tag")
        val f = w.facts
        w.close()
        f
      }
      val a = factsOf(seed, "a")
      val b = factsOf(seed, "b")
      val c = factsOf(seed + 1, "c")
      if (a("input_sha256") != b("input_sha256")) fails += s"$name: same seed, different inputs"
      if (a("input_sha256") == c("input_sha256")) fails += s"$name: another seed, same inputs"
      SizeKeys.filter(a.contains).foreach { k =>
        if (a(k) != c(k)) fails += s"$name: another seed changed size $k: ${a(k)} vs ${c(k)}"
      }
      println(s"$name: inputs ${a("input_sha256")} (seed $seed), ${c("input_sha256")} (seed ${seed + 1})")

      val w = Workloads.make(name, spark, seed)
      w.setup(s"$work/selfcheck-$name-ops")
      val ok = (1 to w.cycle).map(_ => w.op(Tracer.off(spark)))
      ok.flatMap(_.failures).foreach(f => fails += s"$name: real output failed a check: $f")
      w.corruptions().foreach { case (damage, found) =>
        println(s"$name: $damage -> ${if (found.isEmpty) "NOT DETECTED" else found.mkString("; ")}")
        if (found.isEmpty) fails += s"$name: check passed a corrupted output ($damage)"
      }
      w.close()
    }
    fails.foreach(f => println(s"SELFCHECK FAILED: $f"))
    println(if (fails.isEmpty) "selfcheck passed" else s"selfcheck failed: ${fails.size} problems")
    if (fails.isEmpty) 0 else 1
  }
}
