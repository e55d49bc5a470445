package graft

import org.apache.spark.sql.SparkSession

/** Strict parsing for the `graft.*` session options: unset = the
  * default; a set value that does not parse is an error naming the key,
  * never a silent fallback to the default or a bare parse exception
  * that does not say which option was bad (ADVICE r12 class).
  */
object Levers {
  /** Boolean option (graft.broadcast_graph_frames): exactly
    * true/false, any case.
    */
  private[graft] def bool(s: SparkSession, key: String,
                          default: Boolean): Boolean =
    s.conf.getOption(key).map {
      case v if v.equalsIgnoreCase("true") => true
      case v if v.equalsIgnoreCase("false") => false
      case v => throw new IllegalArgumentException(
        s"$key must be true/false, got '$v'")
    }.getOrElse(default)

  /** Positive-integer scale knob (graft.tiles, graft.kmeans.k, ...):
    * unset = default; set = a named parse + range error instead of a
    * bare NumberFormatException that doesn't say which knob was bad.
    */
  private[graft] def posInt(s: SparkSession, key: String,
                            default: Int): Int =
    s.conf.getOption(key).map { v =>
      val parsed = scala.util.Try(v.trim.toInt).toOption
      require(parsed.exists(_ >= 1),
        s"$key must be a positive integer, got '$v'")
      parsed.get
    }.getOrElse(default)

  /** Positive-long variant for row-count-scaled knobs
    * (graft.shingle_df_cap): None when the key is unset.
    */
  private[graft] def posLongOpt(s: SparkSession,
                                key: String): Option[Long] =
    s.conf.getOption(key).map { v =>
      val parsed = scala.util.Try(v.trim.toLong).toOption
      require(parsed.exists(_ >= 1L),
        s"$key must be a positive integer, got '$v'")
      parsed.get
    }
}
