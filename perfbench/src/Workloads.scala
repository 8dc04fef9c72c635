package perfbench

/** Geometry of one epoch-loop workload: seed URLs over Zipf-skewed hosts,
  * a fixed epoch count, the politeness budget that sizes each batch, the
  * major/minor fold cadence, the opt-in stages, the number of set-ups, and
  * the untimed warm-up epochs the first set-up goes on into.
  */
final case class CrawlGeom(seeds: Int, hosts: Int, epochs: Int,
    budgetMs: Long, major: Int, minor: Int, nearDup: Boolean = false,
    media: Boolean = false, sink: Boolean = false, maxRoots: Int = 8,
    setups: Int = 3, warmup: Int = 0)

/** Kernel geometry: frontier size and host count for
  * BenchCrawl.pipelineThroughput.
  */
final case class KernelGeom(urls: Long, hosts: Int)

object Workloads {

  /** The canonical crawl (the engine users run), scaled to fit a run: two
    * epochs — a plain one, then a major fold with seen compaction (the
    * minor fold runs in `ingest`). `loop-canonical` is the full-size
    * geometry (6 epochs, folds 4/2) whose seed-42 counters are pinned at
    * 278,454 fetched / 596,081 emitted; it is too slow for the timed runs
    * and exists for the counter check.
    */
  val Loop = CrawlGeom(seeds = 20000, hosts = 1000, epochs = 2,
    budgetMs = 20000L, major = 2, minor = 0)

  val LoopCanonical = CrawlGeom(seeds = 400000, hosts = 5000, epochs = 6,
    budgetMs = 60000L, major = 4, minor = 2, setups = 1)

  /** Near-dup + media + file sink on, small batches: per-epoch fixed cost
    * and the opt-in stages dominate. Two epochs — a minor fold, then a major
    * fold with seen compaction — and an append-root cap of one, so root
    * consolidation happens within the run, as it does in a long crawl. The
    * batch (about 1.4k docs) is spread over 400 hosts so that its size
    * varies little with the seed, and one untimed epoch after the cold
    * set-up compiles the opt-in stages' code before the timed epochs.
    */
  val Ingest = CrawlGeom(seeds = 6000, hosts = 400, epochs = 2,
    budgetMs = 15000L, major = 2, minor = 1, nearDup = true, media = true,
    sink = true, maxRoots = 1, warmup = 1)

  val Kernel = KernelGeom(urls = 300000L, hosts = 5000)

  def crawl(name: String): CrawlGeom = name match {
    case "loop" => Loop
    case "loop-canonical" => LoopCanonical
    case "ingest" => Ingest
  }
}
