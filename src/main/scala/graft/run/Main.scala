package graft.run

import org.apache.spark.sql.SparkSession
import graft.config.{DeploySpec, JobConfig}

/** The spark-submit entry point — the open counterpart of the reference's
  * `--class com.xyz.spark.etl.main.Orchestrator ... --config_json <path>`
  * invocation (/root/reference/example-shareprice.py:148-151).
  *
  *   spark-submit --class graft.run.Main <jar> \
  *     --config_json /path/job.json [/path/job2.json ...] \
  *     [--deploy /path/deploy.yaml] [--master local[*]]
  *
  * Multiple config files run as a sequential pipeline (the reference's DAG
  * collapsed in-process, SURVEY.md §2.6 O1) with the deploy spec's retry
  * budget; a deploy spec also contributes spark-submit-shaped resource conf.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    def usage(msg: String) = sys.error(
      s"$msg\nusage: --config_json <job.json> [...] [--deploy <deploy.yaml>] [--master <url>]")
    val configs = opts.getOrElse("config_json", usage("missing --config_json"))
    if (configs.isEmpty) usage("--config_json needs at least one file")
    def one(k: String): Option[String] = opts.get(k).map(
      _.headOption.getOrElse(usage(s"--$k needs a value")))
    val deploy = one("deploy").map(DeploySpec.parseFile)

    var builder = SparkSession.builder()
      .appName(deploy.map(_.pipelineName).getOrElse("graft"))
      .config("spark.sql.session.timeZone", "UTC")
    one("master").foreach(m => builder = builder.master(m))
    // local fallback ONLY when nothing else set a master — spark-submit
    // passes it as the spark.master system property, which builder options
    // would silently override
    if (!opts.contains("master") && !sys.props.contains("spark.master") &&
        sys.env.get("MASTER").isEmpty)
      builder = builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]")
    deploy.foreach(_.sparkConf.foreach {
      case ("spark.driver.memory", v) =>
        // the driver JVM is already running here; this knob only works via
        // spark-submit --driver-memory, so don't pretend to apply it
        System.err.println(s"[graft] deploy driverMemory=$v has no effect post-launch; " +
          "pass --driver-memory to spark-submit")
      case (k, v) => builder = builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    graft.util.LocalFs.install(spark)
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))

    try {
      val steps = configs.map { path =>
        val cfg = JobConfig.parse(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
        PipelineStep(cfg.jobName, cfg, retries = deploy.map(_.maximumRetries).getOrElse(3))
      }
      new PipelineRunner(spark).run(steps)
      println(s"[graft] pipeline completed: ${steps.map(_.name).mkString(" >> ")}")
    } finally spark.stop()
  }

  /** --key v1 v2 --flag v … → Map(key -> Seq(v1, v2), flag -> Seq(v)). */
  private[run] def parseArgs(args: List[String]): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.Map.empty[String, Seq[String]]
    var key: Option[String] = None
    args.foreach {
      case a if a.startsWith("--") =>
        key = Some(a.drop(2)); out.getOrElseUpdate(key.get, Seq.empty); ()
      case v =>
        key match {
          case Some(k) => out(k) = out(k) :+ v
          case None    => sys.error(s"positional argument '$v' without a --flag")
        }
    }
    out.toMap
  }
}
