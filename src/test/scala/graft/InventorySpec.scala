package graft

/** SURVEY.md §2 ↔ query-registry cross-check. §8's headline counts
  * drifted from reality in round 5 because they were maintained by
  * hand; this spec makes the drift a test failure instead:
  *
  *  - every registered query must have a §2 inventory row;
  *  - every §2 row must either be a registered query or carry an
  *    explicit "spec-only" oracle annotation (operators with no
  *    meaningful batch query surface — streaming internals, services);
  *  - no spec-only §2 row may silently shadow a registered query.
  *
  * The judge and the builder then agree on one denominator: the §2
  * table, verified mechanically against `Queries.all`.
  */
class InventorySpec extends SparkSpec {

  private lazy val surveyRows: Map[String, String] = {
    val text  = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2    = text.substring(text.indexOf("## §2"), text.indexOf("## §3"))
    val row   = """(?m)^\| `([a-z0-9_]+)` \|.*\| ([^|]+) \|\s*$""".r
    row.findAllMatchIn(s2).map(m => m.group(1) -> m.group(2).trim).toMap
  }

  test("registry names are unique (a duplicate QueryDef silently shadows in the queries Map)") {
    val dups = Queries.all.map(_.name).groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate QueryDef names: ${dups.toSeq.sorted}")
  }

  test("every registered query has a SURVEY §2 inventory row") {
    val missing = Queries.all.map(_.name).filterNot(surveyRows.contains)
    assert(missing.isEmpty, s"registered queries missing from SURVEY §2: $missing")
  }

  test("every SURVEY §2 row is a registered query or an explicit ScalaTest-covered operator") {
    val registered = Queries.all.map(_.name).toSet
    val unaccounted = surveyRows.filterNot { case (k, ann) =>
      registered(k) || ann.contains("ScalaTest")
    }
    assert(unaccounted.isEmpty,
      s"SURVEY §2 rows neither registered nor ScalaTest-annotated: ${unaccounted.keys.toSeq.sorted}")
  }

  test("§8 prose counts equal the mechanical §2/registry counts (prose can't drift)") {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s8 = text.substring(text.indexOf("## §8"))
    val m = """(\d+) §2 rows \((\d+) registered queries \+\s*(\d+) spec-only""".r
      .findFirstMatchIn(s8)
      .getOrElse(fail("§8 must state 'N §2 rows (N registered queries + N spec-only'"))
    val oracleM = """(\d+) with DuckDB oracles""".r.findFirstMatchIn(s8)
      .getOrElse(fail("§8 must state 'N with DuckDB oracles'"))
    val registered = Queries.all.map(_.name).toSet
    val specOnly   = surveyRows.keySet -- registered
    assert(m.group(1).toInt == surveyRows.size,
      s"§8 says ${m.group(1)} §2 rows, table has ${surveyRows.size}")
    assert(m.group(2).toInt == registered.size,
      s"§8 says ${m.group(2)} registered, registry has ${registered.size}")
    assert(m.group(3).toInt == specOnly.size,
      s"§8 says ${m.group(3)} spec-only, table has ${specOnly.size}")
    val nOracles = Queries.all.count(_.oracle.isDefined)
    assert(oracleM.group(1).toInt == nOracles,
      s"§8 says ${oracleM.group(1)} oracles, registry has $nOracles")
  }

  test("§8 suite counts equal the mechanical test-source counts (test counts can't drift either)") {
    // round 10 claimed 369 tests where the run showed 370 — the same
    // hand-maintained-number hazard the query counts had. Anchor the
    // prose to what IS mechanically countable: test DEFINITIONS and
    // suite files in the test sources. (Run-time green/canceled splits
    // vary by environment and stay prose.)
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s8 = text.substring(text.indexOf("## §8"))
    val m = """(\d+) test definitions across (\d+) suites""".r.findFirstMatchIn(s8)
      .getOrElse(fail("§8 must state 'N test definitions across M suites'"))
    val dir = java.nio.file.Paths.get("src/test/scala/graft")
    val sources = java.nio.file.Files.list(dir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    val nTests = sources.map("""(?m)^\s*test\(""".r.findAllMatchIn(_).size).sum
    val nSuites = sources.map("""(?m)^class \w+ extends """.r.findAllMatchIn(_).size).sum
    assert(m.group(1).toInt == nTests,
      s"§8 says ${m.group(1)} test definitions, sources define $nTests")
    assert(m.group(2).toInt == nSuites,
      s"§8 says ${m.group(2)} suites, sources define $nSuites")
  }

  test("§2 oracle annotations match the registry (SQL rows declare oracles, rows-only rows don't)") {
    val oracles = Queries.all.map(q => q.name -> q.oracle.isDefined).toMap
    val wrong = surveyRows.collect {
      case (k, ann) if oracles.contains(k) &&
        ann.startsWith("SQL") != oracles(k) => s"$k (survey says '$ann', oracle=${oracles(k)})"
    }
    assert(wrong.isEmpty, s"SURVEY §2 oracle column disagrees with the registry: $wrong")
  }

  test("src/main defines exactly the allowlisted mains (no dev rig ships in the library jar)") {
    // the entry points that deployments, Verify and Bench run; a
    // profiler or scale rig belongs under src/test (Test/runMain)
    val allowlist = Set("graft.Bench", "graft.StreamBenchSection", "graft.Verify",
      "graft.CurateMain", "graft.streaming.StreamMain")
    val mainDef = """def main\(args: Array\[String\]\)""".r
    val objectDef = """(?m)^\s*(?:private |final |case )*object (\w+)""".r
    val mains = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(body).fold("")(_.group(1) + ".")
        // a main belongs to the nearest object declared above it
        mainDef.findAllMatchIn(body).map { m =>
          pkg + objectDef.findAllMatchIn(body).takeWhile(_.start < m.start).toSeq.last.group(1)
        }
      }.toSet
    assert((mains -- allowlist).isEmpty, s"mains outside the allowlist: ${mains -- allowlist}")
    assert((allowlist -- mains).isEmpty,
      s"allowlisted mains no longer defined (remove them): ${allowlist -- mains}")
  }

  test("only ManifestLog claims, lists or names manifest versions in src/main") {
    // one commit primitive: a second copy of the claim, the v<N> listing
    // or the v<N> path template is how the protocols drifted apart before
    val forbidden = Seq(
      "an exclusive-create claim" -> """CREATE_NEW|\bcreate\([^()]*,\s*false\)""".r,
      "a v<N> listing" -> """(stripPrefix|startsWith)\("v"\)""".r,
      "a v<N> manifest path" -> """/v\$\{?\w+\}?\.(json|manifest)""".r)
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "ManifestLog.scala")
      .flatMap { p =>
        val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n").toSeq
        lines.zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("//") &&
              forbidden.exists(_._2.findFirstIn(line).nonEmpty) =>
            s"$p:${i + 1} (${forbidden.filter(_._2.findFirstIn(line).nonEmpty).map(_._1).mkString(", ")})"
        }
      }
    assert(offenders.isEmpty, s"manifest-log protocol outside ManifestLog: ${offenders.mkString("; ")}")
  }

  test("the index kind is read only where a manifest is parsed, and no layout operation has per-kind twins") {
    // payload-specific steps are methods of the parsed manifest
    // (IndexManifests.parse reads `centroids`): a second kind test, or a
    // per-kind copy of a federation layout operation, is how the lexical
    // and dense paths drifted apart before
    val kindTest = """isAnnManifest|isInstanceOf\[(AnnIndex|InvertedIndex)\.Manifest\]""".r
    val twin = """def\s+reshard\w*(Lex|Ann)""".r
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val kinds =
          if (p.getFileName.toString == "IndexManifests.scala") Nil
          else kindTest.findAllIn(body).toSeq
        (kinds ++ twin.findAllIn(body)).map(hit => s"$p ($hit)")
      }
    assert(offenders.isEmpty, s"index-kind dispatch outside the manifest parse: ${offenders.mkString("; ")}")
  }

  test("only ChangeCapture drains or polls a capture source, and StreamMerge's bucketing knob stays gone") {
    // one change-capture cycle: a second AvailableNow drain or poll loop
    // is how the four sinks' copies of the cycle grew apart before.
    // DsirGate returns a running query and windowedCounts feeds a memory
    // sink; neither is a capture loop.
    val cycle = """Trigger\.AvailableNow\(\)|\.interruptibleSleep\(""".r
    val knob = """StreamMerge\.(Fixed|Off|Bucketing)\b""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap(d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala")))
    val offenders = sources.flatMap { p =>
      val name = p.getFileName.toString
      val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      // the lines of StreamPipeline.windowedCounts, up to the next member
      val w = if (name == "StreamPipeline.scala") lines.indexWhere(_.contains("def windowedCounts(")) else -1
      val windowed = if (w < 0) Set.empty[Int] else {
        val end = lines.indexWhere(l => l.startsWith("  def ") || l.startsWith("}"), w + 1)
        (w until (if (end < 0) lines.size else end)).toSet
      }
      lines.zipWithIndex.collect {
        case (line, i) if knob.findFirstIn(line).nonEmpty => s"$p:${i + 1} (the removed bucketing knob)"
        case (line, i) if p.startsWith("src/main") && cycle.findFirstIn(line).nonEmpty &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") &&
            !Set("ChangeCapture.scala", "DsirGate.scala")(name) && !windowed(i) =>
          s"$p:${i + 1} (a capture drain or poll loop)"
      }
    }
    assert(offenders.isEmpty, s"change-capture cycle outside ChangeCapture: ${offenders.mkString("; ")}")
  }
}
