package graft.core

import org.apache.spark.sql.SparkSession

/** A memo of values that live as long as their session: keyed by
  * (session, key), with the entries of stopped sessions swept on every
  * lookup (bench isolation restarts the context per query), so it
  * stays bounded by the sessions still running.
  */
final class SessionMemo[V] {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

  /** The value held for (`spark`, `key`) if `valid` accepts it, else
    * `make`, which replaces it. One `make` runs per key at a time. */
  def get(spark: SparkSession, key: String, valid: V => Boolean = (_: V) => true)(make: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    entries.compute((spark, key), (_, held) =>
      if (held != null && valid(held)) held else make)
  }
}
