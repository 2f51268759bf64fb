package graft

import org.apache.spark.sql.DataFrame

/** The honest benchmark action (round 14).
  *
  * Every timing harness used `df.count()`, but counting re-optimizes the
  * LOGICAL plan with all columns pruned — and Catalyst then legally
  * ELIMINATES work-bearing operators whose output no longer matters: a
  * left join against a unique-keyed aggregate drops entirely (row count
  * provably unchanged), windows whose columns are pruned disappear, and
  * whole subtrees vanish. Measured concretely: q_semdedup's survivor
  * join — and the 1.4e9-row within-cell pair join feeding it — is absent
  * from the count() plan (0.9 s "benched" at 100× where the real
  * computation pays ~14 s); the BenchVacuityAudit found **78/350**
  * declared queries lose Join/Aggregate/Window/Generate nodes under
  * count(), q_knn_recall losing 13 joins and q_modularity half its plan.
  *
  * [[count]] instead executes the DataFrame's OWN physical plan — the
  * same plan Verify materializes and a user's write would run — by
  * counting its InternalRow RDD: no logical re-optimization, no column
  * pruning beyond what the query itself declares, AQE still applies
  * (the adaptive root finalizes during RDD execution). The return value
  * keeps the row count the gates use for determinism checks.
  *
  * Numbers measured under this action are NOT comparable to the
  * count()-based stamps of rounds ≤ 13; BASELINE.md carries the
  * same-HEAD bridge pair. */
object FullExec {
  def count(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
