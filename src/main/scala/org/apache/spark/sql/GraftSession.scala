package org.apache.spark.sql

import org.apache.spark.sql.classic.{SparkSession => CSession}

/** Package-internal helper for [[graft.pipeline.IngestJob]]'s file-inbox
  * drain: a session that shares the caller's SparkContext and starts
  * from a copy of its state (runtime SQL conf, temp views, functions),
  * so a conf set on it stays off the caller. `newSession()` would start
  * from the defaults and silently drop the caller's runtime conf;
  * `cloneSession()` keeps it but is `private[sql]` — hence this package
  * (the [[GraftIterate]] precedent).
  */
object GraftSession {

  def cloned(spark: SparkSession): SparkSession =
    spark.asInstanceOf[CSession].cloneSession()
}
