package graft.tools

import org.apache.spark.sql.SparkSession

/** Regenerates the repeated-subtree baseline the staging-discipline gate
  * (`PlanHygieneSpec`) asserts against:
  *
  *   runMain graft.tools.PlanHygiene <sfDir> [outFile]
  *
  * The baseline is the NAMED EXCEPTION LIST for
  * [[graft.util.PlanAudit.repeatedSubtrees]] findings (see PLANS.md
  * "Plan-hygiene baseline" for the class-level justification: identical
  * repeated fragments are exchange-reused by Spark, so they are tolerated
  * once reviewed — but any NEW repeated fragment fails the spec until a
  * human either stages it or re-runs this tool after reviewing it).
  */
object PlanHygiene {
  def render(name: String, f: graft.util.PlanAudit.Finding): String =
    s"$name | ${f.detail.takeWhile(_ != ';')}"

  def findings(spark: SparkSession, sfDir: String): Seq[String] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      graft.util.PlanAudit.repeatedSubtrees(fn(spark, sfDir))
        .map(render(name, _))
    }.sorted

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: runMain graft.tools.PlanHygiene <sfDir> [outFile | --show <query>]")
    val sfDir = args(0)
    // not the bench session: the baseline is checked by PlanHygieneSpec
    // in the test session (graft.TestSpark), so it is generated in one
    // with the same master and shuffle partitions
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.lift(1).contains("--show")) {
      val name = args(2)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // re-derive the repeated fragments with full tree detail
      val plan = df.queryExecution.analyzed
      println("=== analyzed top ===")
      println(plan.treeString.linesIterator.take(14).mkString("\n"))
      val counts = scala.collection.mutable.HashMap
        .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int]
        .withDefaultValue(0)
      def countAll(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          parentCanon: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
        val c = p.canonicalized
        if (c != parentCanon) counts(c) += 1
        p.children.foreach(countAll(_, c))
      }
      countAll(plan, null)
      val seen = scala.collection.mutable.HashSet
        .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
      def visit(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
        if (counts(p.canonicalized) >= 2) {
          if (!seen(p.canonicalized)) {
            seen += p.canonicalized
            println(s"=== repeated x${counts(p.canonicalized)} ===")
            println(p.treeString.linesIterator.take(25).mkString("\n"))
          }
        } else p.children.foreach(visit)
      }
      visit(plan)
      spark.stop()
      return
    }
    val out = args.lift(1).getOrElse("dev/plan_hygiene_baseline.txt")
    val lines = findings(spark, sfDir)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"[plan-hygiene] wrote ${lines.size} baseline lines to $out")
    spark.stop()
  }
}
