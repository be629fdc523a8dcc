package graft.perfbench

/** The workloads. Each names the queries it runs, the copy count of the
  * seeded input it runs them on, and the fewest timed repetitions a run
  * makes (a run repeats its query list until `--seconds` have passed, and
  * at least this often).
  *
  *  - fleet: per-query fixed costs dominate (construction, planning,
  *    codegen compile, job and task scheduling); almost every query
  *    finishes in well under a second, so operator kernels do little.
  *  - dedup_search: operator work dominates (shuffle, set-similarity
  *    candidate generation, vector kernels) on a replica whose common
  *    tokens stay shared across copies. Eight copies: at four, fixed
  *    per-query costs were still a fifth of a repetition.
  */
final case class Workload(name: String, copies: Int, engineJob: Boolean,
    minReps: Int, queries: Seq[String])

object Workloads {
  /** Name of the direct Engine.chunk + mapReduce item in `fleet`. */
  val EngineItem = "engine_prime_sum"

  val all: Map[String, Workload] = Seq(
    Workload("fleet", copies = 1, engineJob = true, minReps = 3, Seq(
      "q1_agg", "q2_prime_sum", "q4_wordcount", "st2_sessionize",
      "k3_cms_topk", "e8_topic_mix")),
    Workload("dedup_search", copies = 8, engineJob = false, minReps = 2, Seq(
      "d4_ngram_jaccard", "d15_containment", "t21_semantic_decont"))
  ).map(w => w.name -> w).toMap
}
