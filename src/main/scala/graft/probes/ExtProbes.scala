package graft.probes

import ProbeShared.Q

/** North-star LLM-pipeline extension probes (q27+): dedup family, similarity
  * search, text analysis, multimodal plumbing. The synthetic corpus has no
  * organic near-dups (dedup would trivially return everything), so near-dup
  * probes PLANT mutated copies — identically in engine and oracle — and the
  * probe verifies the operator finds exactly the planted pairs.
  *
  * Probe bodies live in the family objects ([[DedupProbes]], [[AnnProbes]],
  * [[TextProbes]], [[MultimodalProbes]], [[RelationalProbes]],
  * [[IoProbes]]; shared helpers in [[ProbeShared]]) — split from the
  * former 3.1 kLoC monolith (r8 verdict item 6). This object aggregates
  * the family registries (keys and oracle SQL unchanged) and re-exports
  * the probes PlanContractSpec names.
  */
object ExtProbes {
  // ---- re-exports for external call sites -------------------------------
  val q27: Q = DedupProbes.q27
  val q29: Q = DedupProbes.q29
  val q31: Q = AnnProbes.q31
  val q40: Q = AnnProbes.q40
  val q52: Q = AnnProbes.q52
  val q56: Q = RelationalProbes.q56
  val q57: Q = DedupProbes.q57
  val q59: Q = DedupProbes.q59
  val q61: Q = RelationalProbes.q61
  val q62: Q = RelationalProbes.q62
  val q70: Q = AnnProbes.q70
  val q71: Q = RelationalProbes.q71
  val q81: Q = RelationalProbes.q81
  val q86: Q = AnnProbes.q86
  val q87: Q = AnnProbes.q87
  val q88: Q = DedupProbes.q88

  // ---- aggregated registry ----------------------------------------------
  val queries: Map[String, Q] =
    DedupProbes.queries ++ AnnProbes.queries ++ TextProbes.queries ++
      MultimodalProbes.queries ++ RelationalProbes.queries ++
      IoProbes.queries

  val oracleSql: Map[String, String] =
    DedupProbes.oracleSql ++ AnnProbes.oracleSql ++ TextProbes.oracleSql ++
      MultimodalProbes.oracleSql ++ RelationalProbes.oracleSql ++
      IoProbes.oracleSql
}
