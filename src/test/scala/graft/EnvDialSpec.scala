package graft

import org.scalatest.funsuite.AnyFunSuite

/** Environment reads in production code are deployment and harness
  * settings only. A tuning dial belongs in a typed argument (e.g.
  * `ext.PairDials`) where callers and specs can see it, not in a
  * process-global env var nothing documents.
  */
class EnvDialSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_MEMO_BUDGET_MB", "SPARK_GRAFT_NOCACHE", "SPARK_GRAFT_SKIP",
    "SPARK_GRAFT_STREAM_JOIN_BUDGET", "GRAFT_STAGE_TIMING")

  // every env access; group 1 is the key when it is a string literal
  // passed straight to a lookup (anything else has no statable key)
  private val read = ("""(?:sys\.env|System\.getenv)""" +
    """(?:(?:\s*\.\s*(?:get|getOrElse|contains|apply))?\s*\(\s*"([^"]*)")?""").r

  test("src/main reads only allowlisted environment keys, by literal name") {
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.filter(_.toString.endsWith(".scala")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
    assert(files.nonEmpty)
    val found = for {
      f <- files
      src = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- read.findAllMatchIn(src)
    } yield (f, Option(m.group(1)))
    assert(found.exists(_._2.contains("SPARK_GRAFT_CPUS")),
      "the scan no longer recognises env reads")
    val bad = found.filterNot(_._2.exists(allowed))
    assert(bad.isEmpty, "env reads outside the deployment/harness allowlist " +
      "(a dynamic key counts as one): " +
      bad.map { case (f, k) => s"$f: ${k.getOrElse("<non-literal key>")}" }
        .mkString(", "))
  }
}
