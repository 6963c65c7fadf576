package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions

/** Runs a main on the test classpath in a child JVM, for code that
  * stops its session or exits: a JVM holds one SparkContext at a time,
  * and the shared test session is never stopped. */
object ChildJvm {

  /** `main`'s exit code and its combined stdout and stderr, run with a
    * 1g heap, `args` and the extra environment `env`. Fails the calling
    * test if the JVM runs longer than five minutes. */
  def run(main: String, args: Seq[String] = Nil,
          env: Map[String, String] = Map.empty): (Int, String) = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"), main) ++
      args
    val out = Files.createTempFile("graft-child-jvm", ".log").toFile
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out)
    pb.environment().putAll(env.asJava)
    val p = pb.start()
    if (!p.waitFor(5, TimeUnit.MINUTES)) {
      p.destroyForcibly()
      Assertions.fail(s"$main timed out")
    }
    (p.exitValue(), new String(Files.readAllBytes(out.toPath), "UTF-8"))
  }
}
