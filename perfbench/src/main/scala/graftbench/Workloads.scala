package graftbench

import graft.Bench
import graft.gen.CorpusGen
import graft.model.CrawlConfig

/** One crawl workload: the corpus it generates, the config it crawls with,
  * and the engine options one operation passes.
  *
  * @param persistInput pin the input table in memory during set-up
  * @param minOps warm operations a run measures at least, whatever its
  *               window: enough that the window never decides the count
  */
final case class Workload(
    name: String,
    spec: CorpusGen.Spec,
    config: CrawlConfig,
    writeOutputs: Boolean = true,
    prePartitionPages: Boolean = true,
    persistInput: Boolean = false,
    minOps: Int = 2) {

  /** Every page the crawl must fetch: all of them but the robots-gated ones. */
  def expectedPages: Long =
    spec.hosts.toLong * (0 until spec.pagesPerHost).count(i => !CorpusGen.isPrivatePage(i))
}

object Workloads {
  private def roots(hosts: Int): Seq[String] =
    (0 until hosts).map(h => s"https://${CorpusGen.hostName(h)}/")

  /** The saturated wave's seed list: every crawlable page of every host. */
  private def allPages(hosts: Int, pages: Int): Seq[String] =
    for {
      h <- 0 until hosts
      i <- 0 until pages
      if !CorpusGen.isPrivatePage(i)
    } yield CorpusGen.servedBase(h) + CorpusGen.pathFor(i)

  /** `tiny` shrinks every corpus to a few hundred pages for the self-test. */
  def apply(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "bfs_crawl" =>
      // the crawl_e2e config (budget 40/host/wave, maxDepth 8) on 300
      // hosts of 10 pages instead of 200 of 60: the link graph of a 10-page
      // host is shallow, so the crawl commits four small waves instead of
      // seven, each paying the per-wave frontier chain. A wave costs about
      // 2 s on 4 cores whatever its size; seven would leave room for too
      // few operations per run.
      val (hosts, pages) = if (tiny) (6, 10) else (300, 10)
      val spec = Bench.benchSpec.copy(hosts = hosts, pagesPerHost = pages, seed = seed)
      Workload(name, spec, Bench.benchConfig.copy(seeds = roots(hosts),
        maxPages = hosts.toLong * pages))
    case "saturated_wave" =>
      // Bench.megaWaveOnce's shape at a smaller width: one wave holding
      // every page, politeness and link generation skipped
      val (hosts, pages) = if (tiny) (4, 40) else (20, 200)
      val spec = CorpusGen.Spec(hosts, pages, seed = seed, richness = Bench.WaveRichness)
      Workload(name, spec, Bench.waveConfig.copy(seeds = allPages(hosts, pages),
        maxPages = hosts.toLong * pages),
        writeOutputs = false, prePartitionPages = false, persistInput = true, minOps = 5)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
