package graft.ops

import org.apache.spark.sql.DataFrame

/** How an operator materializes a frame it reads more than once — the
  * engine's one materialization policy, chosen by the caller:
  *
  *  - [[Pin.Cache]] (`df.cache()`, lazy): only for entry points whose
  *    harness calls `clearCache` between queries (Bench, Verify, Diag,
  *    Soak). A CacheManager entry is never reclaimed on its own, and a
  *    cached subtree substitutes into unrelated plans of a long-lived
  *    session.
  *  - [[Pin.Checkpoint]] (`df.localCheckpoint()`, eager): for library
  *    calls inside long-lived sessions and pipelines; the ContextCleaner
  *    reclaims the blocks once the frame is unreferenced.
  *  - [[Pin.Off]] (`df` as is): for standing views (QuerySession), whose
  *    registration must run no job and plant no cache that nothing can
  *    release; each consumer re-evaluates the frame instead.
  *
  * A lazy `localCheckpoint(false)` cannot stand in for `Off`:
  * `Dataset.checkpoint` calls `queryExecution.toRdd` at construction
  * whatever the eagerness, and under AQE that materializes every shuffle
  * stage in the plan — jobs fire anyway (measured: 2 jobs from the
  * widen-repartition of the shingle set). */
sealed trait Pin {
  def apply(df: DataFrame): DataFrame
}

object Pin {
  case object Cache extends Pin {
    def apply(df: DataFrame): DataFrame = df.cache()
  }
  case object Checkpoint extends Pin {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint()
  }
  case object Off extends Pin {
    def apply(df: DataFrame): DataFrame = df
  }
}
