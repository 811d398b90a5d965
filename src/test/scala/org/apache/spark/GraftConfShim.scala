package org.apache.spark

/** Test-only access to the live SparkContext conf (`SparkContext.conf` is
  * `private[spark]`). Settings the scheduler reads per job, such as
  * `spark.driver.maxResultSize`, take effect for jobs submitted inside
  * `body`; the previous value is restored after it.
  */
object GraftConfShim {
  def withContextConf[A](sc: SparkContext, key: String, value: String)(body: => A): A = {
    val before = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => sc.conf.set(key, v)
      case None => sc.conf.remove(key)
    }
  }
}
