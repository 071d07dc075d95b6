package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one session builder, one install path, one commit skeleton, one
  * predicate miner, one merge-on-read, one DV-or-copy-on-write decision
  * per DML verb and a fixed set of settings: a second
  * `SparkSession.builder` under `src/main`, a per-query
  * `GraftFunctions.register` call in `SparkEntry`, a
  * [[graft.ops.VersionedTable]] commit that reads its own head or writes
  * its own manifest, a second predicate walk, an unversioned patch chain,
  * a second `dvsEnabled` branch, a deletion-vector join, Spark read of a
  * DV sidecar or second DV file key, or a settings key outside the
  * allowlist fails here.
  */
class SessionDriftSpec extends AnyFunSuite {

  private val root: Path = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("GraftSession is the only SparkSession builder under src/main") {
    val builders = sources
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("graft/GraftSession.scala"), builders)
  }

  test("SparkEntry calls no GraftFunctions.register") {
    val src = Files.readString(root.resolve("graft/SparkEntry.scala"))
    assert("""GraftFunctions\s*\.\s*register\s*\(""".r.findFirstIn(src).isEmpty)
  }

  /** Every settings key `src/main` reads; the README "Settings" section
    * says who sets each one. A new key is added here on purpose.
    */
  private val settings = Set(
    // deployment
    "spark.graft.catalog.path", "spark.graft.catalog.lockTimeoutMs",
    "spark.graft.commit.store", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_BENCH_DETAIL",
    // thresholds that specs or plan captures lower to reach a path
    "spark.graft.dedup.candidatePairBudget", "spark.graft.dedup.lsh.bandChunks",
    "spark.graft.dedup.lsh.saltBucketRows", "spark.graft.dedup.lsh.saltProbeMinBytes",
    "spark.graft.vtable.inlineMaxFiles", "spark.graft.vtable.checkpointInterval",
    "spark.graft.vtable.distributedPruneThreshold", "spark.graft.ivm.localFoldRows",
    "spark.graft.topk.maxGroupsInMemory", "spark.graft.vtable.footerStats",
    // policy
    "spark.graft.vtable.cursorStaleHours", "spark.graft.mv.rewrite",
    // Bench
    "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_PER_QUERY_GC")

  /** For each line, the def it sits in: the nearest `def` at or above it. */
  private def enclosingDefs(lines: Seq[String]): Seq[String] = {
    val defLine = """^\s*(?:override\s+)?(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored
    lines.scanLeft("") {
      case (_, defLine(name)) => name
      case (d, _) => d
    }.tail
  }

  test("VersionedTable commits share one skeleton: withHead, ManifestDelta, publish") {
    val src = Files.readString(root.resolve("graft/ops/VersionedTable.scala"))
      .split("\n").toSeq
    val enclosing = enclosingDefs(src)
    def callers(call: String): Seq[String] = src.indices
      .filter(i => src(i).contains(call) && !src(i).contains(s"def $call"))
      .map(enclosing)
    assert(!src.exists(_.contains("publishCommit")))
    assert(callers("currentVersion(spark, dir).getOrElse(") == Seq("withHead"))
    assert(callers("filesMatching(") == Seq("candidates"))
    assert(callers("writeManifestJson(").toSet == Set("publish", "restore"))
  }

  test("one predicate miner: no ColumnNode walk, Catalyst comparisons only in VersionedTable.mine") {
    // the data-source Filter API reuses the names; files importing it are
    // not Catalyst matches
    val sourceFilters = """import org\.apache\.spark\.sql\.sources\.(_|\{[^}]*GreaterThanOrEqual)""".r
    val comparison = """\b(GreaterThanOrEqual|InSet)\(""".r
    val found = sources.flatMap { p =>
      val text = Files.readString(p)
      assert(!text.contains("internal.UnresolvedFunction"), s"$p walks ColumnNode trees")
      if (sourceFilters.findFirstIn(text).isDefined) Nil
      else {
        val lines = text.split("\n").toSeq
        val enclosing = enclosingDefs(lines)
        lines.indices.filter(i => comparison.findFirstIn(lines(i)).isDefined)
          .map(i => s"${root.relativize(p)}:${enclosing(i)}")
      }
    }.toSet
    assert(found == Set("graft/ops/VersionedTable.scala:mine"), found)
  }

  test("one merge-on-read: no unversioned patch chain under src/main") {
    // the versioned table's patch commits are the one merge-on-read; a
    // `.patches` sibling dir would be a second, unversioned chain that a
    // plain parquet reader of its base reads stale
    val sibling = "\"[^\"\n]*\\.patches\"".r
    val found = sources.filter { p =>
      val text = Files.readString(p)
      sibling.findFirstIn(text).isDefined ||
        Seq("appendPatch", "readMergeOnRead").exists(text.contains)
    }.map(p => root.relativize(p).toString)
    assert(found.isEmpty, found)
  }

  test("one merge-on-read in VersionedTable: no key-folded patch chain, no default-conf footer opens") {
    // code only, without comments and string literals: a refusal message
    // may name the older build's remedy
    val token = "\"\"\"[\\s\\S]*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|/\\*[\\s\\S]*?\\*/|//[^\n]*".r
    val chain = """\b(patches|mergeKeys|foldPatches|chainChangelog|compactPatches|requireNoPatches|patchShape)\b""".r
    val open = """ParquetFileReader\s*\.\s*open\s*\(""".r
    // true when the call whose argument list starts at `from` has one argument
    def oneArg(text: String, from: Int): Boolean = {
      var (i, depth, commas) = (from, 1, 0)
      while (depth > 0 && i < text.length) {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ =>
        }
        i += 1
      }
      commas == 0
    }
    val found = sources.flatMap { p =>
      val text = token.replaceAllIn(Files.readString(p), "")
      val rel = root.relativize(p).toString
      chain.findAllIn(text).toSeq.distinct.map(t => s"$rel: $t") ++
        open.findAllMatchIn(text).filter(m => oneArg(text, m.end)).map(_ => s"$rel: one-argument ParquetFileReader.open")
    }
    assert(found.isEmpty, found)
  }

  test("deletion vectors vs copy-on-write is decided once per verb") {
    val found = sources.flatMap { p =>
      val lines = Files.readString(p).split("\n").toSeq
      val enclosing = enclosingDefs(lines)
      lines.indices
        .filter(i => lines(i).contains("dvsEnabled(") && !lines(i).contains("def dvsEnabled"))
        .map(i => s"${root.relativize(p)}:${enclosing(i)}")
    }
    // GraftCatalogUpdateCommand.run and GraftCatalogDeleteCommand.delete
    assert(found.sorted == Seq("graft/plans/VtableCatalogDml.scala:delete",
      "graft/plans/VtableCatalogDml.scala:run"), found)
  }

  test("deletion vectors: one position filter, sidecars read on the driver, one file key") {
    // code lines only: scaladoc may name the scan's metadata columns
    def code(p: Path): String = Files.readString(p).split("\n")
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") }
      .mkString("\n")
    val dvFile = "graft/ops/DeletionVectors.scala"
    def near(text: String, at: String, width: Int, what: String*): Boolean =
      at.r.findAllMatchIn(text).exists { m =>
        val window = text.substring(m.start, math.min(text.length, m.start + width))
        what.exists(window.contains)
      }
    val found = sources.flatMap { p =>
      val rel = root.relativize(p).toString
      val text = code(p)
      Seq(
        // a join keyed on the position columns (the anti-join fold)
        near(text, """\.join\(""", 200, "__vt_file", "__vt_pos") -> "joins on DV positions",
        // a Spark read of DV sidecars
        (text.contains("dvTable") ||
          near(text, """\.read\.(schema|parquet|format)""", 200, "dvs", "sidecar", "dvSchema")) ->
          "reads DV sidecars with Spark",
        // a second DV file key
        (rel != dvFile && Seq("__vt_file", "__vt_pos", "_metadata.file_path").exists(text.contains)) ->
          "names the DV position columns outside the DV module",
        near(text, """regexp_(extract|replace)\(""", 100, "data/") -> "keys DV files by regex",
        ("""def fileKey\b""".r.findAllIn(text).size > (if (rel == dvFile) 1 else 0)) ->
          "defines a second DV file key"
      ).collect { case (true, why) => s"$rel: $why" }
    }
    assert(found.isEmpty, found)
  }

  test("src/main reads exactly the allowlisted settings keys") {
    // a key built by interpolation leaves its prefix here, which fails too
    val literal = "\"(SPARK_GRAFT_[A-Z0-9_]+|spark\\.graft\\.[A-Za-z0-9_.]+)".r
    val keys = sources.flatMap(p =>
      literal.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    assert(keys == settings,
      s"not allowlisted: ${keys -- settings}; no longer read: ${settings -- keys}")
  }
}
