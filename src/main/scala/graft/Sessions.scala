package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main and spec
  * runs local mode on the same base: `cpus` worker threads, one shuffle
  * partition per thread unless `shufflePartitions` says otherwise, no
  * UI, UTC session time zone (the oracle compares timestamps as UTC)
  * and WARN logging. `conf` carries a caller's own settings on top of
  * the base (an entry here wins over it). */
object Sessions {
  def local(
      cpus: Int,
      shufflePartitions: Option[Int] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A main's `SPARK_GRAFT_*` knob: `raw` parsed, or `dflt` when unset.
    * A malformed value (the parser throws an IllegalArgumentException,
    * NumberFormatException included) is rejected with a message naming
    * the variable. Mains read their knobs before building the session,
    * so a typo fails in milliseconds. */
  private[graft] def parseKnob[T](name: String, raw: Option[String], dflt: T)(
      parse: String => T): T =
    raw.fold(dflt) { v =>
      try parse(v)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"$name=\"$v\" is malformed: ${e.getMessage}", e)
      }
    }

  /** [[parseKnob]] over the environment variable `name`. */
  private[graft] def envKnob[T](name: String, dflt: T)(parse: String => T): T =
    parseKnob(name, sys.env.get(name), dflt)(parse)

  /** The parsers of a count knob (`SPARK_GRAFT_CPUS`, a sweep's or
    * probe's sizes): a positive Int or Long, or a non-negative Int for
    * a count whose 0 turns its step off. */
  private[graft] def positiveInt(s: String): Int = atLeast(1, s.toInt).toInt
  private[graft] def positiveLong(s: String): Long = atLeast(1, s.toLong)
  private[graft] def nonNegativeInt(s: String): Int = atLeast(0, s.toInt).toInt
  private def atLeast(min: Long, v: Long): Long = {
    require(v >= min, s"must be ${if (min > 0) "positive" else "non-negative"}, got $v")
    v
  }
}
