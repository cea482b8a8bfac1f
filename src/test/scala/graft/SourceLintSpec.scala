package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level idiom lint (round-3 verdict task 6 follow-through).
  *
  * The verdict flagged unhinted scalar `crossJoin`s in BehaviorOps: the
  * sides were 1-row aggregates that AQE happens to rescue, but the repo
  * idiom everywhere else is an explicit `broadcast(...)` hint so the plan
  * is broadcast-shaped even with AQE off and the pattern can't be
  * copy-pasted onto a non-scalar frame without the hint coming along.
  * The hints are in place; this spec keeps them in place.
  *
  * It also keeps the two session seams single: SQL functions are
  * registered only by `functions/Functions.scala`, and sessions are built
  * only by `GraftSession` (plus the opt-in extension session of
  * `Round3Ops.extensionSession`). And it keeps the vector tier's
  * query-0 serve kit single: ADC scoring over stored PQ codes is built
  * only in `ops/VecIndex.scala` (and the PQ gates of `ops/Pq.scala`).
  * And it keeps the file-stream kit single: stream sources, stagings,
  * folds, drains and scratch dirs are built only in
  * `streaming/StreamOps.scala`. And it keeps the bridge's execute path
  * single: `Bridge.run` analyzes its SQL once and runs it only through
  * `Resident.answer`, the memo of prepared answers; and no catch in
  * `exec/` drops the cause a failed ask reports.
  */
class SourceLintSpec extends AnyFunSuite {

  private val mainDir = new java.io.File("src/main/scala/graft")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] = {
    val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(scalaFiles)
  }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("every crossJoin in src/main is broadcast-hinted") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = for {
      f <- scalaFiles(mainDir)
      content = read(f)
      m <- "crossJoin\\(\\s*".r.findAllMatchIn(content)
      if !content.drop(m.end).startsWith("broadcast(")
    } yield {
      val line = content.take(m.start).count(_ == '\n') + 1
      s"${f.getPath}:$line"
    }
    assert(bad.isEmpty,
      s"crossJoin without an explicit broadcast(...) hint at: " +
        bad.mkString(", ") +
        " — wrap the scalar side in broadcast(...) (repo idiom; see " +
        "BehaviorOps) or use a keyed join if the side is not scalar")
  }

  test("no stubs or deferred work in src/main") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = for {
      f <- scalaFiles(mainDir)
      content = read(f)
      pat <- Seq("???", "TODO", "FIXME")
      if content.contains(pat)
    } yield s"${f.getPath} contains $pat"
    assert(bad.isEmpty, bad.mkString(", "))
  }

  /** `path:line` of every match of `pat` in `src/main` code lines (doc and
    * line comments skipped) outside the files `allowed` accepts.
    */
  private def codeMatches(pat: scala.util.matching.Regex)(
      allowed: (java.io.File, String, Int) => Boolean): Seq[String] =
    for {
      f <- scalaFiles(mainDir)
      content = read(f)
      m <- pat.findAllMatchIn(content).toSeq
      lineStart = content.lastIndexOf('\n', m.start - 1) + 1
      lead = content.substring(lineStart, m.start).trim
      if !(lead.startsWith("*") || lead.startsWith("/*") || lead.contains("//"))
      if !allowed(f, content, m.start)
    } yield s"${f.getPath}:${content.take(m.start).count(_ == '\n') + 1}"

  test("SQL functions are registered only by functions/Functions.scala") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = codeMatches(
      "createOrReplaceTempFunction|registerFunction|udf\\.register".r) {
      (f, _, _) => f.getPath.endsWith("functions/Functions.scala")
    }
    assert(bad.isEmpty, "function registration outside Functions.install " +
      s"at: ${bad.mkString(", ")} — add the function to graft.functions." +
      "Functions; Tables.registerAll and StreamOps.start install it")
  }

  test("sessions are built only by GraftSession and " +
    "Round3Ops.extensionSession") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = codeMatches("SparkSession\\s*\\.\\s*builder\\b".r) {
      (f, content, at) =>
        f.getName == "GraftSession.scala" || (f.getName == "Round3Ops.scala" && {
          // inside the extensionSession def: after its signature, before
          // the next member at the object's indentation
          val start = content.indexOf("def extensionSession(")
          val end = "\n  (val|def|private|lazy|override) ".r
            .findFirstMatchIn(content.substring(start + 1))
            .map(_.start + start + 1).getOrElse(content.length)
          start >= 0 && at > start && at < end
        })
    }
    assert(bad.isEmpty, s"SparkSession.builder() at: ${bad.mkString(", ")}" +
      " — build sessions with graft.GraftSession.build")
  }

  test("ADC over stored codes is built only by VecIndex and Pq") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = codeMatches(
      "Pq\\s*\\.\\s*adcFromCodes\\b|\\bexpr\\(\\s*adcFromCodes\\b".r) {
      (f, _, _) =>
        f.getName == "VecIndex.scala" || f.getName == "Pq.scala"
    }
    assert(bad.isEmpty, s"inline ADC scoring at: ${bad.mkString(", ")}" +
      " — score through VecIndex.adcScores / adcScoresBatch (the query-0" +
      " serve kit)")
  }

  test("file-stream plumbing is built only by streaming/StreamOps.scala") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = codeMatches(("\\b(foreachBatch|processAllAvailable|" +
      "createSymbolicLink|maxFilesPerTrigger|createTempDirectory)\\b").r) {
      (f, _, _) => f.getPath.endsWith("streaming/StreamOps.scala")
    }
    assert(bad.isEmpty, s"inline stream plumbing at: ${bad.mkString(", ")}" +
      " — go through StreamOps.fileStream / stagedSource / foldBatches /" +
      " scratchDir (the file-stream kit)")
  }

  test("Bridge.run answers its SQL only through Resident.answer") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bridge = new java.io.File(mainDir, "exec/Bridge.scala")
    val onlyBridge = (f: java.io.File, _: String, _: Int) => f != bridge
    val bad = codeMatches(("\\.limit\\(|\\.collect\\(|\\bqueryExecution\\b|" +
      "\\bRunner\\s*\\.\\s*(execute|bounded|executeAndDisplay|fetch)\\b").r)(onlyBridge)
    // one parse + analysis, whose Dataset only Resident.answer runs
    val analyses = codeMatches("\\.sql\\(".r)(onlyBridge)
    val answers = codeMatches("\\bResident\\s*\\.\\s*answer\\(".r)(onlyBridge)
    assert(bad.isEmpty && analyses.size == 1 && answers.size == 1,
      s"a second execute path in Bridge: ${bad.mkString(", ")}; " +
        s"spark.sql at ${analyses.mkString(", ")}; Resident.answer at " +
        s"${answers.mkString(", ")} — analyze the ask's SQL once with " +
        "spark.sql and run it with Resident.answer(spark, table, sql, fresh, maxRows)")
  }

  test("no catch under exec/ discards its cause") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val exec = new java.io.File(mainDir, "exec").getPath + java.io.File.separator
    val bad = codeMatches(
      "case\\s+NonFatal\\(\\s*_\\s*\\)|case\\s+_\\s*:\\s*(Throwable|Exception)\\b".r) {
      (f, _, _) => !f.getPath.startsWith(exec)
    }
    assert(bad.isEmpty, s"a catch that drops its cause at: ${bad.mkString(", ")}" +
      " — bind the exception and carry it (Bridge.Failure's cause)")
  }
}
