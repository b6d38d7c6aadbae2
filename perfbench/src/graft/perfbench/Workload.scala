package graft.perfbench

/** One benchmark workload: a seeded corpus, built fresh in each set-up,
  * then read through `search`, `searchHot` and `searchMany` by one client
  * in a closed loop. Workloads differ in corpus, pool and batch size.
  *
  * @param generated  `CorpusGen` source-code corpus, else the sf0.1-shaped one
  * @param hotQueries size of the `searchHot` working set: the first pool
  *                   queries, whose terms the set-up makes resident
  * @param warmOps    read path → calls of the unrecorded warm-up loop,
  *                   after two back-to-back passes over the hot working set
  * @param minOps     read path → calls to finish even after the time is up;
  *                   two passes over the hot working set, so that every
  *                   query of it counts in `hot_p50_ms` equally
  */
final case class Workload(
    name: String,
    generated: Boolean,
    nDocs: Int,
    poolSize: Int,
    batch: Int,
    hotQueries: Int,
    setupReps: Int = 3,
    warmOps: Map[String, Int] = Map(Workload.Search -> 8, Workload.Batch -> 4).withDefaultValue(0)) {
  def minOps: Map[String, Int] = Map(Workload.Search -> 10, Workload.Hot -> 2 * hotQueries, Workload.Batch -> 5)
}

object Workload {
  val Search = "search"
  val Hot = "hot"
  val Batch = "batch"

  /** Read path → share of the measured time it gets. */
  val Shares: Seq[(String, Double)] = Seq(Search -> 0.44, Batch -> 0.5, Hot -> 0.06)

  val all: Seq[Workload] = Seq(
    // 48 words make any working set cheap to fill, so it can be large; the
    // generated corpus pays one pruned read per 32 distinct terms
    Workload("sf01_serve", generated = false, nDocs = 5000, poolSize = 400, batch = 50, hotQueries = 256),
    Workload("gen_read", generated = true, nDocs = 4000, poolSize = 500, batch = 500, hotQueries = 64))

  /** The same workload at a size that runs in seconds (self-test). */
  def tiny(w: Workload): Workload =
    w.copy(nDocs = if (w.generated) 2000 else 600, poolSize = 40, batch = 10, hotQueries = 10, setupReps = 1,
      warmOps = Map(Search -> 2, Batch -> 1).withDefaultValue(0))

  def named(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
