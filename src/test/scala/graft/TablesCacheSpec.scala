package graft

import org.apache.spark.sql.functions._

/** Pins [[Tables]]' read-cache contract (VERDICT r15 #8): the cached
  * lazy relation pins its file listing at first read, which is safe
  * ONLY because Tables paths are immutable inputs — no graft operator
  * may ever write under a `$sfDir`. The source audit makes a violation
  * a test failure, not a silent stale read.
  */
class TablesCacheSpec extends SparkSpec {

  test("no main-source write path targets a Tables table (immutable-input contract)") {
    // every Tables(...) table resolves under the caller-supplied sfDir;
    // a write under such a dir would go stale in the plan cache. Audit:
    // main sources never interpolate an sfDir/dir-rooted table-file
    // path into a writer. Query/bench code writes only to temp dirs,
    // catalog warehouses, or index roots.
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator()
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    offenders.forEachRemaining { p =>
      if (p.toString.endsWith(".scala")) {
        val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // the table files Tables serves; writing any of them in place
        // would poison the cached listing
        val names = Seq("lineitem", "orders", "customer", "supplier", "part",
          "nation", "region", "events", "documents", "embeddings")
        names.foreach { n =>
          // a WRITE whose destination path interpolates an input dir and
          // targets a table file: `.write…parquet(s"$sfDir/<table>.parquet")`
          // (or .save of the same). Reads (`spark.read.parquet(...)`) and
          // noop writes (`.save()` with no path) do not match.
          // tempered window: the chain from `.write` to its destination
          // must not cross into a fresh read or a noop write
          val pat = ("""\.write\b(?:(?!spark\.read|format\("noop"\))[\s\S]){0,160}?""" +
            """\.(parquet|save)\(\s*s"[^"]*\$\{?(sfDir|dir)\}?[^"]*/""" +
            n + """\.parquet"""").r
          if (pat.findFirstIn(body).isDefined) bad += s"$p writes $n.parquet under an input dir"
        }
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("cachedRead serves one lazy plan per (session, path) and recomputes data per action") {
    val t1 = Tables(spark, sfDir)
    val t2 = Tables(spark, sfDir)
    // same underlying plan object (metadata resolved once) ...
    assert(t1.region eq t2.region, "expected the cached lazy relation to be shared")
    // ... but every action computes from parquet (no materialized rows
    // in the cache): two actions agree with a fresh uncached read
    val fresh = spark.read.parquet(s"$sfDir/region.parquet")
    assert(t1.region.count() == fresh.count())
    assert(t1.region.agg(sum(length(col("r_name")))).head.getLong(0) ==
      fresh.agg(sum(length(col("r_name")))).head.getLong(0))
  }

  test("an overflow caused by the live session evicts another session's plans, not its own") {
    val live = Tables(spark, sfDir).region
    // another session fills the cache to its bound with distinct paths
    // (`/.` segments normalize to the same region file)
    val other = spark.newSession()
    Iterator.from(1).map(i => sfDir + "/." * i).take(Tables.ReadCacheMax - Tables.readCacheSize)
      .foreach(d => Tables(other, d).region)
    assert(Tables.readCacheSize == Tables.ReadCacheMax)
    // the live session's next miss overflows the cache
    Tables(spark, s"$sfDir/.").nation
    assert(Tables(spark, sfDir).region eq live,
      "the live session's cached relation was evicted by another session's entries")
  }
}
