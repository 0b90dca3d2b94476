package org.apache.spark

/** Runs `body` as if the running context had `n` cores: the local
  * scheduler reads `spark.default.parallelism` from the context's
  * configuration on every `defaultParallelism` call, and only code in
  * the `org.apache.spark` package can change that configuration once
  * the context is up.
  */
object DefaultParallelism {
  def withValue[T](sc: SparkContext, n: Int)(body: => T): T = {
    val key = "spark.default.parallelism"
    val before = sc.conf.getOption(key)
    sc.conf.set(key, n.toString)
    try body
    finally before match {
      case Some(v) => sc.conf.set(key, v)
      case None => sc.conf.remove(key)
    }
  }
}
