package graft

import java.nio.file.{Files, Path, Paths}

import graft.analytics.Fences

/** Helpers the specs share: scratch files that the JVM deletes at
  * exit, and a child JVM for checks that need a process of their own. */
object SpecSupport {

  /** An empty file `<prefix><suffix>` in a fresh [[Fences.tempDir]]. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createFile(Paths.get(Fences.tempDir(prefix), prefix + suffix))

  /** Runs `mainClass` from the test classpath in a child JVM started
    * with this JVM's `--add-opens` flags (so it can start Spark) and
    * returns its exit status and combined stdout/stderr. */
  def childJvm(mainClass: String, heap: String = "512m"): (Int, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, s"-Xmx$heap") ++ addOpens ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    (p.waitFor(), out)
  }
}
