package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides. */
object SessionConf {

  /** Run `body` with session key `key` set to `value`, then restore the
    * caller's state of the key — its explicit value, or unset — also when
    * `body` throws. Save/set/restore on a shared session: callers that run
    * concurrently on one session must not scope the same key. */
  def withConf[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    // getAll holds only explicitly set keys; getOption would report a
    // registered key's default and the restore would then pin it.
    val saved = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
