package graft

import graft.operators.EmbeddingStore
import graft.sources.Tables

/** Per-call Spark job budgets of the interactive probe path. Once an
  * index generation's manifests are cached on the driver, a search
  * plans its scans locally; the jobs left are the probe (query
  * broadcast + probed-cell collect) and the scored scan itself. A
  * change that puts metadata reads back on the per-call path fails
  * here. */
class JobBudgetSpec extends SparkTestBase {

  test("warm-cache searchIvf runs at most 4 jobs per call and " +
    "searchIvfFiltered at most 6") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val meta = t.embeddings
    def ivf(q: Long) =
      EmbeddingStore.searchIvf(spark, path, q, k = 10).collect()
    def filtered(q: Long) = EmbeddingStore.searchIvfFiltered(spark, path,
      meta, q, k = 10, probes = 4, label = 3).collect()
    // one call of each warms the current generation's manifests
    ivf(0L); filtered(0L)
    for (q <- Seq(7L, 42L)) {
      val (hits, ivfJobs) = withJobCount(ivf(q))
      assert(hits.nonEmpty)
      assert(ivfJobs <= 4, s"searchIvf($q) ran $ivfJobs jobs")
      val (_, filteredJobs) = withJobCount(filtered(q))
      assert(filteredJobs <= 6,
        s"searchIvfFiltered($q) ran $filteredJobs jobs")
      info(s"query $q: searchIvf $ivfJobs jobs, " +
        s"searchIvfFiltered $filteredJobs jobs")
    }
  }
}
