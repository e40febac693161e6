package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session scopes for the engine's streams; each restores the
  * session values it changed when its body returns or throws.
  *
  * [[withLocalCheckpoints]] installs [[LocalCheckpointFileManager]]:
  * every checkpoint write of a stream (offset and commit logs, state
  * schemas, one delta per state store per micro-batch) stops forking
  * `readlink`/`chmod`, which was most of a stateful stream's
  * per-partition cost here, not state work. Every stream the engine
  * starts runs inside it.
  *
  * [[withStatePartitions]] adds the shuffle-partition count of a
  * stateful stream, sized to STATE volume, not scan width: the count
  * is pinned into the checkpoint at first start, and every partition
  * carries a state store whose open/commit cost is paid per
  * micro-batch whether or not it holds keys. The session default (32,
  * sized for batch scans) quadruples that fixed overhead for these
  * bounded-key streams; 8 is the default at bench scale. At real scale
  * this is sized UP with the key space. Results are partition-count
  * invariant; only the state-store fan-out changes. */
object StreamTuning {
  /** Default state-partition count. */
  val default: Int = 8

  def withLocalCheckpoints[T](spark: SparkSession)(f: => T): T =
    withConf(spark, LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)(f)

  def withStatePartitions[T](spark: SparkSession, n: Int = default)(f: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString) {
      withLocalCheckpoints(spark)(f)
    }

  private def withConf[T](spark: SparkSession, key: String, value: String)(
      f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
