package graft.streaming

import graft.operators.{DataQuality, FieldSelection, TargetMaintenance}

/** Declarative stream-spec loader — the reference is driven entirely by a
  * YAML spec (`/root/reference/stream-spec-yaml-example.yaml`, parsed by
  * `ParquetPluginStreamContext.scala:1-37` from the `STREAMCONTEXT__SPEC`
  * env var). This loader parses the same spec shape into the engine's
  * native configs (`StreamPipeline.Config`, `TargetMaintenance.Settings`,
  * `RetryPolicy`, `ChangeCapture`, `TokenBucket`), so a reference user can
  * port a deployment by pointing the engine at their existing spec file
  * instead of writing Scala.
  *
  * The parser is a deliberately minimal YAML subset covering the spec
  * grammar: indentation-scoped mappings, `- item` sequences, inline
  * `{}`/`[]`/`[a, b]`, quoted scalars, and `#` comments. No anchors,
  * multi-line scalars, or flow mappings — the spec uses none of them.
  */
object StreamSpec {

  // ---------------------------------------------------------------- nodes

  sealed trait Node
  final case class Scalar(value: String) extends Node
  final case class Sequence(items: Vector[Node]) extends Node
  final case class Mapping(entries: Vector[(String, Node)]) extends Node {
    def get(key: String): Option[Node] = entries.collectFirst { case (k, v) if k == key => v }
  }
  object Mapping { val empty: Mapping = Mapping(Vector.empty) }

  /** Walk a path of mapping keys. */
  def at(root: Node, path: String*): Option[Node] =
    path.foldLeft(Option(root)) {
      case (Some(m: Mapping), k) => m.get(k)
      case _                     => None
    }

  def str(root: Node, path: String*): Option[String] =
    at(root, path: _*).collect { case Scalar(v) => v }

  def int(root: Node, path: String*): Option[Int]       = str(root, path: _*).map(_.toInt)
  def long(root: Node, path: String*): Option[Long]     = str(root, path: _*).map(_.toLong)
  def double(root: Node, path: String*): Option[Double] = str(root, path: _*).map(_.toDouble)
  def bool(root: Node, path: String*): Option[Boolean]  = str(root, path: _*).map(_.toBoolean)

  def strSeq(root: Node, path: String*): Seq[String] =
    at(root, path: _*) match {
      case Some(Sequence(items)) => items.collect { case Scalar(v) => v }
      case _                     => Seq.empty
    }

  /** The single key of a one-entry mapping — the spec's tagged-union shape
    * (`queryRetryMode: never: {}`, `rule: all: {}`).
    */
  def variantKey(root: Node, path: String*): Option[String] =
    at(root, path: _*).collect { case Mapping(entries) if entries.nonEmpty => entries.head._1 }

  // ------------------------------------------------------------- scalars

  /** "5 second" / "100 millisecond" / "6h" / "250ms" → millis. */
  def durationMs(s: String): Long = {
    val t = s.trim
    val m = raw"(?i)^([0-9]+(?:\.[0-9]+)?)\s*(milliseconds?|millisecond|ms|seconds?|s|minutes?|min|m|hours?|h)$$".r
    t match {
      case m(num, unit) =>
        val v = num.toDouble
        val factor = unit.toLowerCase match {
          case u if u.startsWith("ms") || u.startsWith("milli") => 1L
          case u if u.startsWith("s")                           => 1000L
          case u if u.startsWith("m")                           => 60_000L
          case u if u.startsWith("h")                           => 3_600_000L
        }
        math.round(v * factor)
      case _ => throw new IllegalArgumentException(s"unparseable duration: '$s'")
    }
  }

  /** "512MB" / "6GB" / "100KB" / "1024" → bytes. */
  def sizeBytes(s: String): Long = {
    val m = raw"(?i)^([0-9]+(?:\.[0-9]+)?)\s*(B|KB|MB|GB|TB)?$$".r
    s.trim match {
      case m(num, unit) =>
        // the regex admits only these five units (or none)
        val factor = Option(unit).map(_.toUpperCase) match {
          case None | Some("B") => 1L
          case Some("KB")       => 1L << 10
          case Some("MB")       => 1L << 20
          case Some("GB")       => 1L << 30
          case Some("TB")       => 1L << 40
          case Some(other)      => throw new IllegalArgumentException(s"unparseable size unit: '$other'")
        }
        math.round(num.toDouble * factor)
      case _ => throw new IllegalArgumentException(s"unparseable size: '$s'")
    }
  }

  /** "1000 per 1 second" → items per second. */
  def ratePerSecond(s: String): Double = {
    val m = raw"(?i)^([0-9]+(?:\.[0-9]+)?)\s+per\s+(.+)$$".r
    s.trim match {
      case m(num, period) => num.toDouble / (durationMs(period).toDouble / 1000.0)
      case _              => throw new IllegalArgumentException(s"unparseable rate: '$s'")
    }
  }

  // -------------------------------------------------------------- parser

  private final case class Line(indent: Int, content: String)

  def parse(text: String): Mapping = {
    val lines = text.linesIterator.zipWithIndex.flatMap { case (raw, _) =>
      val noComment = stripComment(raw)
      if (noComment.trim.isEmpty) None
      else Some(Line(noComment.takeWhile(_ == ' ').length, noComment.trim))
    }.toVector
    val (node, rest) = parseBlock(lines, 0, 0)
    require(rest == lines.length, s"trailing unparsed spec content at line offset $rest")
    node match {
      case m: Mapping => m
      case other      => throw new IllegalArgumentException(s"spec root must be a mapping, got $other")
    }
  }

  def loadFile(path: String): Mapping =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Drop a trailing comment unless the `#` sits inside a quoted scalar. */
  private def stripComment(line: String): String = {
    var inQuote = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQuote = !inQuote
      else if (c == '#' && !inQuote && (i == 0 || line.charAt(i - 1).isWhitespace))
        return line.substring(0, i)
      i += 1
    }
    line
  }

  /** Parse the block starting at `i` whose lines are indented >= `indent`;
    * returns the node and the index past the block.
    */
  private def parseBlock(lines: Vector[Line], i: Int, indent: Int): (Node, Int) = {
    if (i >= lines.length || lines(i).indent < indent) return (Mapping.empty, i)
    val blockIndent = lines(i).indent
    if (lines(i).content.startsWith("- ") || lines(i).content == "-")
      parseSequence(lines, i, blockIndent)
    else parseMapping(lines, i, blockIndent)
  }

  private def parseMapping(lines: Vector[Line], start: Int, indent: Int): (Node, Int) = {
    val entries = Vector.newBuilder[(String, Node)]
    var i = start
    while (i < lines.length && lines(i).indent == indent && !lines(i).content.startsWith("- ")) {
      val c     = lines(i).content
      val colon = c.indexOf(':')
      require(colon > 0, s"expected 'key: value', got '$c'")
      val key   = c.substring(0, colon).trim
      val rest  = c.substring(colon + 1).trim
      if (rest.nonEmpty) {
        entries += key -> parseInline(rest)
        i += 1
      } else {
        // block value: children indented deeper; absent children = empty map
        val (child, next) =
          if (i + 1 < lines.length && lines(i + 1).indent > indent) parseBlock(lines, i + 1, lines(i + 1).indent)
          else (Mapping.empty, i + 1)
        entries += key -> child
        i = next
      }
    }
    (Mapping(entries.result()), i)
  }

  private def parseSequence(lines: Vector[Line], start: Int, indent: Int): (Node, Int) = {
    val items = Vector.newBuilder[Node]
    var i = start
    while (i < lines.length && lines(i).indent == indent && (lines(i).content.startsWith("- ") || lines(i).content == "-")) {
      val body = lines(i).content.drop(1).trim
      if (body.isEmpty) { items += Mapping.empty; i += 1 }
      else if (body.contains(": ") || body.endsWith(":")) {
        // "- key: value" item: re-parse the item as a mini-mapping whose
        // continuation lines are indented past the dash
        val itemIndent = indent + 2
        val rewritten  = Line(itemIndent, body) +: lines.drop(i + 1)
        val (node, consumedFromRewritten) = parseMapping(rewritten, 0, itemIndent)
        items += node
        i = i + consumedFromRewritten
      } else { items += parseInline(body); i += 1 }
    }
    (Sequence(items.result()), i)
  }

  private def parseInline(raw: String): Node = {
    // the reference example carries a stray trailing comma on one scalar
    val s = if (raw.endsWith(",")) raw.dropRight(1).trim else raw
    if (s == "{}") Mapping.empty
    else if (s == "[]") Sequence(Vector.empty)
    else if (s.startsWith("[") && s.endsWith("]"))
      Sequence(s.substring(1, s.length - 1).split(',').toVector.map(x => parseInline(x.trim)).filter {
        case Scalar("") => false
        case _          => true
      })
    else if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\""))
      Scalar(s.substring(1, s.length - 1))
    else if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
      Scalar(s.substring(1, s.length - 1))
    else Scalar(s)
  }

  // ------------------------------------------------------- typed loaders

  /** `source.fieldSelectionRule` → rule + essential fields
    * (yaml:99-103; `all`/`include`/`exclude` tagged union).
    */
  def fieldSelection(spec: Mapping): (FieldSelection.Rule, Set[String]) = {
    val essentials = strSeq(spec, "source", "fieldSelectionRule", "essentialFields").toSet
    // the variant payload is either the field list itself or {fields: [...]}
    def fields(variant: String): Set[String] =
      at(spec, "source", "fieldSelectionRule", "rule", variant) match {
        case Some(Sequence(items)) => items.collect { case Scalar(v) => v }.toSet
        case Some(m: Mapping)      => strSeq(m, "fields").toSet
        case _                     => Set.empty
      }
    val rule = variantKey(spec, "source", "fieldSelectionRule", "rule") match {
      case Some("all") | None => FieldSelection.All
      case Some("include")    => FieldSelection.Include(fields("include"))
      case Some("exclude")    => FieldSelection.Exclude(fields("exclude"))
      case Some(other) => throw new IllegalArgumentException(s"unknown fieldSelectionRule.rule: $other")
    }
    (rule, essentials)
  }

  /** `sink.mergeServiceClient.queryRetry*` → RetryPolicy (yaml:36-43). */
  def retryPolicy(spec: Mapping): RetryPolicy = {
    val msc = at(spec, "sink", "mergeServiceClient").getOrElse(Mapping.empty)
    val mode = variantKey(msc, "queryRetryMode").map(RetryMode.fromName)
    RetryPolicy(
      maxAttempts = int(msc, "queryRetryMaxAttempts").getOrElse(1),
      baseDelayMs = str(msc, "queryRetryBaseDuration").map(durationMs).getOrElse(100L),
      maxDelayMs = str(msc, "queryRetryMaxDuration").map(durationMs).getOrElse(60_000L),
      scaleFactor = double(msc, "queryRetryScaleFactor").getOrElse(2.0),
      retryOnMessageContents = strSeq(msc, "queryRetryOnMessageContents"),
      mode = mode
    )
  }

  /** `sink.maintenanceSettings` → threshold-driven maintenance
    * (yaml:49-61). The engine fires all maintenance kinds on one
    * threshold; the spec's per-kind thresholds are folded with min() so
    * no kind fires LESS often than its spec asks.
    */
  def maintenanceSettings(spec: Mapping): Option[TargetMaintenance.Settings] =
    at(spec, "sink", "maintenanceSettings").collect { case m: Mapping if m.entries.nonEmpty =>
      val thresholds = Seq(
        int(m, "targetOptimizeSettings", "batchThreshold"),
        int(m, "targetSnapshotExpirationSettings", "batchThreshold"),
        int(m, "targetOrphanFilesExpirationSettings", "batchThreshold"),
        int(m, "targetAnalyzeSettings", "batchThreshold")
      ).flatten
      TargetMaintenance.Settings(
        batchThreshold = if (thresholds.isEmpty) 60 else thresholds.min,
        targetFileBytes = str(m, "targetOptimizeSettings", "fileSizeThreshold").map(sizeBytes)
          .getOrElse(512L * 1024 * 1024),
        analyzeColumns = strSeq(m, "targetAnalyzeSettings", "includedColumns")
      )
    }

  /** `throughput.shaperImpl.memoryBound` → the memory-bound chunk cost
    * model (yaml:68-75). None when the spec has no memoryBound block.
    */
  def memoryBound(spec: Mapping): Option[graft.operators.Throughput.MemoryBound] =
    at(spec, "throughput", "shaperImpl", "memoryBound").collect { case m: Mapping =>
      val d = graft.operators.Throughput.MemoryBound()
      graft.operators.Throughput.MemoryBound(
        fallbackStringBytes = int(m, "fallbackStringTypeSizeEstimate").getOrElse(d.fallbackStringBytes),
        objectBytes = int(m, "objectTypeSizeEstimate").getOrElse(d.objectBytes),
        chunkCostScale = double(m, "chunkCostScale").getOrElse(d.chunkCostScale),
        chunkCostMax = double(m, "chunkCostMax").getOrElse(d.chunkCostMax),
        rowCountWeight = double(m, "tableRowCountWeight").getOrElse(d.rowCountWeight),
        sizeWeight = double(m, "tableSizeWeight").getOrElse(d.sizeWeight),
        sizeScaleFactor = double(m, "tableSizeScaleFactor").getOrElse(d.sizeScaleFactor)
      )
    }

  /** `validation.checks` → in-stream DataQuality rules for the
    * [[QualityGate]] (rule: notNull | inRange(min,max) | matches(pattern)).
    * A spec without a validation block runs ungated; an unknown rule is a
    * spec error, not a silent skip.
    */
  def qualityChecks(spec: Mapping): Seq[DataQuality.Check] =
    at(spec, "validation", "checks") match {
      case Some(Sequence(items)) => items.collect { case m: Mapping =>
        val field = str(m, "field").getOrElse(
          throw new IllegalArgumentException("validation check missing field"))
        str(m, "rule").getOrElse("notNull") match {
          case "notNull" => DataQuality.notNull(field)
          case "inRange" => DataQuality.inRange(field,
            double(m, "min").getOrElse(Double.NegativeInfinity),
            double(m, "max").getOrElse(Double.PositiveInfinity))
          case "matches" => DataQuality.matches(field, str(m, "pattern").getOrElse(".*"))
          case other     => throw new IllegalArgumentException(s"unknown validation rule: $other")
        }
      }
      case _ => Seq.empty
    }

  /** `validation.quarantinePath` → where the gate routes failing rows. */
  def quarantinePath(spec: Mapping): Option[String] =
    str(spec, "validation", "quarantinePath")

  /** `streamMode.changeCapture` → poll cadence (yaml:27-30). */
  def changeCapture(spec: Mapping): ChangeCapture =
    new ChangeCapture(
      intervalMs = str(spec, "streamMode", "changeCapture", "changeCaptureInterval").map(durationMs).getOrElse(5000L),
      jitterVariance = double(spec, "streamMode", "changeCapture", "changeCaptureJitterVariance").getOrElse(0.0),
      jitterSeed = long(spec, "streamMode", "changeCapture", "changeCaptureJitterSeed").getOrElse(0L)
    )

  /** `streamMode.backfill.backfillBehavior` — Overwrite | Merge (yaml:24-26). */
  def backfillBehavior(spec: Mapping): Option[String] =
    str(spec, "streamMode", "backfill", "backfillBehavior").map { b =>
      require(b == "Overwrite" || b == "Merge", s"unknown backfillBehavior: $b"); b
    }

  def backfillStartDate(spec: Mapping): Option[String] =
    str(spec, "streamMode", "backfill", "backfillStartDate")

  /** `throughput.shaperImpl.advisedRate`/`advisedBurst` → TokenBucket (yaml:78-79). */
  def tokenBucket(spec: Mapping, nowNanos: () => Long = () => System.nanoTime()): Option[TokenBucket] =
    for {
      rate  <- str(spec, "throughput", "shaperImpl", "advisedRate").map(ratePerSecond)
      burst <- long(spec, "throughput", "shaperImpl", "advisedBurst")
    } yield new TokenBucket(rate, burst, nowNanos)

  /** The whole spec → the pipeline's Config. Paths come from the spec's
    * `source.configuration.sourcePath` / `sink.targetTableFullName` but
    * can be overridden (tests and non-object-store deployments point them
    * at local dirs; the checkpoint dir is engine-specific so it defaults
    * under `tempStoragePath`).
    */
  def pipelineConfig(
      spec: Mapping,
      sourceDir: Option[String] = None,
      targetDir: Option[String] = None,
      checkpointDir: Option[String] = None,
      stagingDir: Option[String] = None
  ): StreamPipeline.Config = {
    val (rule, essentials) = fieldSelection(spec)
    val tempStorage = str(spec, "source", "configuration", "tempStoragePath").getOrElse("/tmp")
    StreamPipeline.Config(
      sourceDir = sourceDir.orElse(str(spec, "source", "configuration", "sourcePath"))
        .getOrElse(throw new IllegalArgumentException("spec missing source.configuration.sourcePath")),
      targetDir = targetDir.orElse(str(spec, "sink", "targetTableFullName"))
        .getOrElse(throw new IllegalArgumentException("spec missing sink.targetTableFullName")),
      checkpointDir = checkpointDir.getOrElse(s"$tempStorage/graft-checkpoint"),
      primaryKeys = strSeq(spec, "source", "configuration", "primaryKeys"),
      // the reference versions rows by blob createdOn — the stamped
      // source-version column is the explicit equivalent
      versionCols = Seq(StreamPipeline.SourceVersionColumn),
      includeSourceVersion = true,
      fieldRule = rule,
      essentialFields = essentials,
      maxFilesPerTrigger = int(spec, "throughput", "shaperImpl", "advisedChunkSize"),
      maxRowsPerFile = int(spec, "staging", "table", "maxRowsPerFile").getOrElse(1_000_000),
      sourceBuffering = bool(spec, "source", "buffering", "enabled").getOrElse(false),
      maintenance = maintenanceSettings(spec),
      commitRetry = retryPolicy(spec),
      // sink.optimisticConcurrency: true → per-batch commits detect
      // out-of-band writers (fail-fast instead of last-writer-wins)
      detectConflicts = bool(spec, "sink", "optimisticConcurrency").getOrElse(false),
      // the reference stages batches in staging tables; here each
      // micro-batch's delta is its staged batch (capped at maxRowsPerFile),
      // so this dir is only scratch for Overwrite backfill shards
      stagingDir = stagingDir.orElse(
        at(spec, "staging", "table").map(_ => s"$tempStorage/graft-staging"))
    )
  }

  // ------------------------------------------------------ env bootstrap

  /** The reference boots from these env vars: the operator serializes the
    * stream spec into `STREAMCONTEXT__SPEC`
    * (`ParquetPluginStreamContext.apply` parses it,
    * models/app/ParquetPluginStreamContext.scala:33-37) and flags backfill
    * runs with `STREAMCONTEXT__BACKFILL` / `STREAMCONTEXT__BACKFILL_ID`
    * (IntegrationTests.scala:167-168).
    */
  val SpecEnvVar       = "STREAMCONTEXT__SPEC"
  val BackfillEnvVar   = "STREAMCONTEXT__BACKFILL"
  val BackfillIdEnvVar = "STREAMCONTEXT__BACKFILL_ID"

  /** Parse the spec carried in `STREAMCONTEXT__SPEC`. `env` is injectable
    * because the JVM cannot set its own environment in tests.
    */
  def fromEnv(env: Map[String, String] = sys.env): Mapping =
    env.get(SpecEnvVar).map(parse).getOrElse(
      throw new IllegalArgumentException(s"$SpecEnvVar is not set — cannot bootstrap a stream context"))

  /** Whether this run is a backfill (`STREAMCONTEXT__BACKFILL=true`). */
  def isBackfill(env: Map[String, String] = sys.env): Boolean =
    env.get(BackfillEnvVar).exists(_.equalsIgnoreCase("true"))

  def backfillId(env: Map[String, String] = sys.env): Option[String] =
    env.get(BackfillIdEnvVar)

  // ----------------------------------------------------- object storage

  /** `source.configuration.s3` → Hadoop s3a configuration
    * (yaml:89-96; the reference's `DefaultS3Reader` consumes the same
    * block, main.scala:77-78). Credentials are NOT in the spec — s3a's
    * default provider chain picks up `AWS_ACCESS_KEY_ID` /
    * `AWS_SECRET_ACCESS_KEY` from the environment exactly as the
    * reference's S3 SDK client does. Returns an empty map when the spec
    * has no s3 section (local / hdfs sources need nothing).
    */
  def s3HadoopConf(spec: Mapping): Map[String, String] = {
    at(spec, "source", "configuration", "s3") match {
      case Some(s3: Mapping) =>
        Seq(
          str(s3, "endpoint").map("fs.s3a.endpoint" -> _),
          str(s3, "region").map("fs.s3a.endpoint.region" -> _),
          bool(s3, "usePathStyle").map(v => "fs.s3a.path.style.access" -> v.toString),
          int(s3, "maxResultsPerPage").map(v => "fs.s3a.paging.maximum" -> v.toString),
          int(s3, "retryMaxAttempts").map(v => "fs.s3a.retry.limit" -> v.toString),
          str(s3, "retryBaseDelay").map(d => "fs.s3a.retry.interval" -> s"${durationMs(d)}ms")
        ).flatten.toMap
      case _ => Map.empty
    }
  }

  /** Apply the spec's object-store settings to a session's Hadoop conf so
    * every FileSystem the engine opens (BlobListingSource listings, the
    * streaming file source, the snapshot store) sees them.
    */
  def applyObjectStoreConf(spark: org.apache.spark.sql.SparkSession, spec: Mapping): Unit =
    s3HadoopConf(spec).foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
}
