package graft

import java.io.File

/** Launches a main of this test classpath in a fresh JVM, for specs
  * that need a second process (the two-JVM soaks) or a JVM whose
  * process-wide state, such as Hadoop's `FileSystem` cache, no other
  * spec has touched. Output and errors go to `log`.
  */
object ChildJvm {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def launch(main: String, args: Seq[String], log: File,
      env: Map[String, String] = Map.empty): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // Test / fork := true, so java.class.path IS the real test
    // classpath (spark jars + compiled classes + test classes)
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(log)
      .redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.start()
  }
}
