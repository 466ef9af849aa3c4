package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session the measurement and tooling mains build
  * (`Bench` and its subcommands, `Verify`, `Smoke`, `ScaleUp`,
  * `pipeline.Models`): `local[n]` with n = `SPARK_GRAFT_CPUS`, otherwise
  * the core count, one shuffle partition per core, UTC, no UI, WARN
  * logging. `extra` confs are applied last, so a caller's pin (e.g. a
  * shuffle-width override) wins over the defaults. `graft.Main` keeps
  * its own builders: the packaged process is configured by its
  * commands, not by this helper. */
object LocalSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
