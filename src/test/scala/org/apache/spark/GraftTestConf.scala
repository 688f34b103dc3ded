package org.apache.spark

/** Sets or removes a setting of a running context's own configuration,
  * which a test cannot reach through `getConf` (a copy). Settings that
  * Spark reads per stage, such as `spark.driver.maxResultSize`, then take
  * effect for the next job.
  */
object GraftTestConf {
  def set(sc: SparkContext, key: String, value: Option[String]): Unit =
    value.fold(sc.conf.remove(key))(sc.conf.set(key, _))
}
