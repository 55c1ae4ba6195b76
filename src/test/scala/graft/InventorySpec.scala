package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory integrity: every registered query carries a DuckDB oracle.
  * Round 5 closed the last rows-only entry (q_sim_lsh, via plane-literal
  * SQL) — from here, a query without an oracle is a silent weakening of
  * the correctness gate and must fail CI, not slip through as a driver
  * "rows-only" row. */
class InventorySpec extends AnyFunSuite {

  test("every query has an oracle (no rows-only entries)") {
    val missing = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(missing.isEmpty,
      s"queries without oracle SQL: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle references a registered query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"orphan oracles: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("headline bench set is a subset of the registered inventory") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names not registered: $missing")
  }

  test("no query name is defined twice WITHIN a module's Map literal") {
    // SparkEntry already refuses cross-module collisions, but a duplicate
    // key inside ONE Map literal is swallowed by the Map itself — the
    // round-17 q_curriculum incident: a new op compiled, "verified"
    // (against the shadowing twin), and never actually ran. Scan the
    // source: each `"name" ->` may appear at most twice per file (query +
    // oracle entry).
    val entry = """"((?:q|s|src|sink)_[a-z0-9_]+)"\s*->""".r
    val offenders = for {
      f <- new java.io.File("src/main/scala/graft").listFiles().toSeq
        .flatMap(d => if (d.isDirectory) d.listFiles().toSeq else Seq(d))
      if f.getName.endsWith(".scala")
      text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      names = entry.findAllMatchIn(text).map(_.group(1)).toSeq
      (n, g) <- names.groupBy(identity)
      if g.size > 2
    } yield s"${f.getName}: $n (${g.size} arrow-entries)"
    assert(offenders.isEmpty,
      s"shadowed Map keys (definitions beyond query+oracle): " +
        offenders.sorted.mkString("; "))
  }

  test("session conf is set and sessions are built only in GraftSession") {
    // a query that flips a session switch changes every job that runs on
    // the session meanwhile; the one scoped helper and the one builder
    // live in GraftSession.scala, and nothing else may do either
    val banned = Seq("conf.set(", "conf.unset(", "setConfString", "unsetConf",
      "SparkSession.builder")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try {
      import scala.jdk.CollectionConverters._
      for {
        p <- walk.iterator().asScala.toSeq
        if p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala"
        (line, i) <- java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        b <- banned
        if line.contains(b)
      } yield s"$p:${i + 1}: $b"
    } finally walk.close()
    assert(offenders.isEmpty,
      s"session conf mutation outside GraftSession: ${offenders.mkString("; ")}")
  }

  test("no process-global last* observation slots in src/main") {
    // what a scan planned is reported on its own plan node; a global slot
    // is last-writer-wins across concurrent queries. TextIndex's probe
    // slots stay until a per-query trace record replaces them.
    val pending = Set("lastTopNFiles", "lastOrFiles", "lastScoreShards",
      "lastPhraseShards", "lastSnippetShards")
    val slot = """\bvar\s+(last[A-Z]\w*)""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try {
      import scala.jdk.CollectionConverters._
      for {
        p <- walk.iterator().asScala.toSeq
        if p.toString.endsWith(".scala")
        (line, i) <- java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        m <- slot.findAllMatchIn(line)
        if !pending(m.group(1))
      } yield s"$p:${i + 1}: ${m.group(1)}"
    } finally walk.close()
    assert(offenders.isEmpty,
      s"process-global observation slots: ${offenders.mkString("; ")}")
  }

  test("frames are built from Java lists only in Local") {
    // a collected frame handed back as a local relation goes through
    // graft.Local, which bounds the collect and keeps the frame's schema;
    // the argument list is scanned to its closing paren, across lines
    val javaList = Seq("asJava", "Arrays.asList", "java.util.ArrayList")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try {
      import scala.jdk.CollectionConverters._
      for {
        p <- walk.iterator().asScala.toSeq
        if p.toString.endsWith(".scala") && p.getFileName.toString != "Local.scala"
        text = java.nio.file.Files.readString(p)
        at <- "createDataFrame\\(".r.findAllMatchIn(text).map(_.end).toSeq
        args = {
          var depth = 1; var i = at
          while (i < text.length && depth > 0) {
            if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
            i += 1
          }
          text.substring(at, i)
        }
        if javaList.exists(args.contains)
      } yield s"$p:${text.substring(0, at).count(_ == '\n') + 1}"
    } finally walk.close()
    assert(offenders.isEmpty,
      s"createDataFrame over a Java list outside Local: ${offenders.mkString("; ")}")
  }
}
