package perfbench

/** One benchmark workload: registered queries forced one at a time, pass
  * after pass. `freshCopy` gives every timed pass its own byte-identical
  * copy of the tables at a new path, so path-keyed session memos miss the
  * way they do on each new day's data. */
final case class Workload(name: String, queries: Seq[String], freshCopy: Boolean)

object Workloads {

  /** Five queries of the tada relational surface (join, window, pivot and
    * two chunked-ordinal queries whose construction reads the session's
    * bounds memos) and three of the curation pipeline (the text-quality and
    * n-gram kernels, simhash clusters with eager connected components and
    * tracked caches). */
  val queries: Seq[String] = Seq(
    "q10_lookup_join", "q21_align_window", "q36_pivot", "q108_cumsum_string_key",
    "q117_shift_grouped_few_keys", "q48_quality", "q66_repetition", "q79_simhash_clusters")

  val all: Seq[Workload] = Seq(
    Workload("warm", queries, freshCopy = false),
    Workload("cold", queries, freshCopy = true))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
