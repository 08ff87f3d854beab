package graft.pipeline

import org.apache.spark.sql.SparkSession

/** How graft starts streaming queries so that their generated code is
  * compiled once per JVM, not once per start.
  *
  * Spark caches compiled classes in `CodeGenerator.cache`, keyed by
  * (the task's context classloader, the generated source). Every
  * streaming query runs in a clone of its session, and with
  * `spark.sql.artifact.isolation.enabled` on (Spark 4's default) each
  * clone gets its own artifact state, so its tasks run under a
  * classloader of their own: every start of a pipeline or streaming
  * twin compiles all of its whole-stage classes again, and they then
  * start interpreted again. graft adds no session artifacts, so the
  * isolation buys it nothing; a clone made with it off runs its tasks
  * under the executor's default classloader, shared by every such
  * start.
  */
object StreamStarts {
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Runs `body` with artifact isolation off on `spark`, then restores
    * the session's previous setting. A streaming query started in
    * `body` (its session is cloned synchronously in `start()`, and the
    * clone reads the setting from its own copy of the conf) keeps
    * isolation off for its whole life. The lock keeps concurrent
    * starts from interleaving their set and restore.
    */
  def sharingCode[T](spark: SparkSession)(body: => T): T = synchronized {
    val prev = spark.conf.getAll.get(Isolation) // set explicitly, or None
    spark.conf.set(Isolation, "false")
    try body
    finally prev.fold(spark.conf.unset(Isolation))(spark.conf.set(Isolation, _))
  }
}
