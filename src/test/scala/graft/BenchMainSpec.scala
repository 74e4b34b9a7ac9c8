package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Runs `graft.Bench` end to end in its own JVM on the smallest corpus:
  * two gates, one pass, no scale section. The digest specs pin the
  * line's shape from pure inputs; this pins that the main still reaches
  * it — sessions, warm-up, calibration, the watchdog-capped samples,
  * per-sample emission and the `bench_out.json` rewrite.
  */
class BenchMainSpec extends AnyFunSuite {

  private val Gates = Seq("q_j8_match_1to1", "q_a1_tumbling_10min")

  /** The test JVM's `--add-opens` flags (the JVM reports each as
    * `--add-opens=X`, whichever way it was launched): Spark needs them
    * on JDK 17.
    */
  private def addOpens: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens="))

  test("Bench main: one pass over two gates ends in a parseable digest and bench_out.json") {
    val tmp = Files.createTempDirectory("graft-bench-main")
    val out = tmp.resolve("bench_out.json")
    val stdout = tmp.resolve("stdout.txt")
    val stderr = tmp.resolve("stderr.txt")
    val missing = tmp.resolve("missing").toString
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectOutput(stdout.toFile).redirectError(stderr.toFile)
    val env = pb.environment()
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_BENCH_ONLY", Gates.mkString(","))
    env.put("SPARK_GRAFT_BENCH_REPS", "1")
    Seq("SF1", "SF30", "SF100").foreach(l => env.put(s"SPARK_GRAFT_${l}_DIR", missing))
    env.put("SPARK_GRAFT_BENCH_OUT", out.toString)
    // Bench builds that still carry the heap re-exec would restart a
    // small-heap run at 8 g; current builds ignore this variable
    env.put("SPARK_GRAFT_HEAP_REEXEC", "false")
    val proc = pb.start()
    if (!proc.waitFor(300, TimeUnit.SECONDS)) {
      proc.destroyForcibly().waitFor()
      fail(s"Bench did not finish in 300 s; stderr tail:\n${tail(stderr)}")
    }
    assert(proc.exitValue() == 0, s"exit ${proc.exitValue()}; stderr tail:\n${tail(stderr)}")

    val mapper = new ObjectMapper()
    val line = Files.readAllLines(stdout).asScala.filter(_.startsWith("{")).lastOption
      .getOrElse(fail(s"no JSON line on stdout; stderr tail:\n${tail(stderr)}"))
    assert(line.length < 2000, s"digest is ${line.length} chars")
    val digest = mapper.readTree(line)
    assert(digest.get("digest").asBoolean(), line)
    assert(digest.get("reps_completed").asInt() == 1, line)
    assert(digest.get("errors_n").asInt() == 0, line)
    Gates.foreach(g => assert(digest.get("queries").get(g).asDouble() > 0, s"$g: $line"))

    val full = mapper.readTree(Files.readAllBytes(out))
    Gates.foreach(g => assert(full.get("queries").get(g).asDouble() > 0, s"$g in $out"))
    // kept on failure, for the stderr and the artifact
    Files.list(tmp).iterator().asScala.foreach(Files.delete)
    Files.delete(tmp)
  }

  private def tail(p: Path): String =
    if (Files.isRegularFile(p)) new String(Files.readAllBytes(p)).takeRight(2000) else ""
}
