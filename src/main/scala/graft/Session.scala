package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, Probe, the scale probes
  * and the test suite all start here, so a local A/B runs on the session
  * the driver measures.
  *
  * Cores come from SPARK_GRAFT_CPUS (default 32) and set both the local
  * master and the shuffle partitions. The one conf hook is
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" (unset in driver runs); every applied
  * conf is echoed to stdout so a recorded output documents its config. */
object Session {
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)

  /** Parses "k=v;k=v". Empty segments and a trailing ';' are ignored; a
    * segment without exactly one '=' (e.g. the old comma form "a=1,b=2")
    * is rejected, naming the segment. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { seg =>
      seg.split("=", -1) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: malformed segment '$seg' " +
            "(expected k=v, segments separated by ';')")
      }
    }

  def apply(cpus: Int = Session.cpus,
            extraConf: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
           ): SparkSession = {
    val confs = extraConf.toSeq.flatMap(parseConf)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) =>
      println(s"session: EXTRA_CONF applied $k=$v")
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM/codegen and parquet-reader warm-up, so class loading is not
    * charged to the first timed query. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
  }
}
