package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.crawl.CrawlEngine

/** Output checks of one crawl operation, run outside the timed region.
  * Each returns the failures it found; none throws. */
object Checks {

  def crawl(spark: SparkSession, w: Workload, s: CrawlEngine.CrawlSummary, stateDir: String,
            args: Main.Args, recorded: mutable.Map[String, String]): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    // the self-test's injected fault: one page more than the crawl can fetch
    val expectPages = w.expectedPages + (if (args.injectFailure) 1 else 0)
    if (s.parityFailures != 0) failures += s"${s.parityFailures} pages broke text parity"
    if (s.fetchedTotal != expectPages) failures += s"fetched ${s.fetchedTotal} pages, expected $expectPages"
    if (!w.writeOutputs) {
      // one saturated wave: every selected page exists, nothing is left
      if (s.errorsTotal != 0) failures += s"${s.errorsTotal} fetch errors in the saturated wave"
      if (s.waves != 1) failures += s"${s.waves} waves, expected 1"
    } else try {
      val d = orderDigest(spark, w, stateDir, failures)
      if (args.record) recorded(w.name) = d
      args.expectDigest.foreach { e =>
        if (e != d) failures += s"order digest $d != recorded $e"
      }
    } catch { case e: Throwable =>
      failures += s"order check threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    failures.toSeq
  }

  /** Checks the order invariants and returns the sha-256 of the
    * (wave, rank, canonicalUrl) sequence. */
  def orderDigest(spark: SparkSession, w: Workload, stateDir: String,
                  failures: mutable.Buffer[String]): String = {
    val rows = CrawlEngine.readOrder(spark, stateDir).collect()
    val dups = rows.length - rows.map(_.canonicalUrl).distinct.length
    if (dups > 0) failures += s"$dups canonical URLs crawled twice"
    if (rows.length != w.expectedPages) failures += s"crawl order has ${rows.length} rows"
    val budget = w.config.perHostBudget
    if (budget > 0) {
      val over = rows.groupBy(r => (r.wave, r.host)).count(_._2.length > budget)
      if (over > 0) failures += s"$over (wave, host) groups over the budget $budget"
    }
    val priv = rows.count(r => r.url.contains("/private/") || r.canonicalUrl.contains("/private/"))
    if (priv > 0) failures += s"$priv robots-disallowed /private/ URLs crawled"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(s"${r.wave}\t${r.rank}\t${r.canonicalUrl}\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bytes and files under `root`, leaving out its child directory `skip`. */
  def treeSize(root: Path, skip: String): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !root.relativize(p).startsWith(skip)).toList
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
