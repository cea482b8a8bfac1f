package graft.exec

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite

/** `Cli` as a process: what it prints under a non-UTF-8 platform
  * charset (a POSIX/C locale).
  */
class CliSpec extends AnyFunSuite {

  private val data = s"${graft.TestData.sf0001}/nation.parquet"

  test("Cli ask prints UTF-8 under a non-UTF-8 default charset") {
    assume(new java.io.File(data).exists(), s"$data absent — skipping")
    val dir = Files.createTempDirectory("graft_cli_spec")
    val (out, err) = (dir.resolve("out"), dir.resolve("err"))
    try {
      val javaBin =
        Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val pb = new ProcessBuilder(javaBin,
        "-Dsun.stdout.encoding=US-ASCII", "-Dsun.stderr.encoding=US-ASCII",
        "-Dstdout.encoding=US-ASCII", "-Dstderr.encoding=US-ASCII",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.exec.Cli", "ask", "--data", data, "--table", "nation",
        "--question", "how many nations are there")
      val env = pb.environment()
      Seq("GEMINI_API_KEY", "MISTRAL_API_KEY").foreach(env.remove)
      env.put("LC_ALL", "C")
      env.put("LANG", "C")
      env.put("SPARK_MASTER", "local[1]")
      env.put("SPARK_GRAFT_CPUS", "1")
      pb.redirectOutput(out.toFile).redirectError(err.toFile)
      val p = pb.start()
      try assert(p.waitFor(180, TimeUnit.SECONDS), "Cli ask did not finish")
      finally p.destroyForcibly()
      val errBytes = Files.readAllBytes(err)
      val errText = new String(errBytes, UTF_8)
      assert(p.exitValue() == 0, s"Cli ask exited ${p.exitValue()}: $errText")
      // the offline-mock notice carries an em dash: its UTF-8 bytes, not `?`
      assert(errBytes.indexOfSlice("—".getBytes(UTF_8)) >= 0,
        "no UTF-8 em dash on stderr: " + errText.linesIterator
          .filter(_.startsWith("[ask]")).mkString(" | "))
      assert(errText.contains(
        "[ask] GEMINI_API_KEY not set — using offline mock"))
    } finally {
      Seq(out, err).foreach(Files.deleteIfExists)
      Files.delete(dir)
    }
  }
}
