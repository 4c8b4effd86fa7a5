package graft.functions

import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic scan-spread for CPU-heavy map pipelines (guide §2.5's
  * input-skew remedy: "one huge unsplittable file … otherwise
  * repartition immediately after the read").
  *
  * The bench fixtures are single-row-group parquet files, so every scan
  * plans ONE split and the expensive per-row work placed above it
  * (shingling, k-gram SHA hashing, signature band algebra) serializes
  * on one core however many the session has — measured r18: the
  * dominant stages of the text/near-dup family were 1-task stages with
  * 0.7–1.4 s of CPU and ~zero input bytes.
  *
  * The repartition is CONDITIONAL on the measured scan parallelism: it
  * fires only when the planned split count is below the session's
  * shuffle parallelism. At corpus scale — where the input has thousands
  * of row groups and a corpus-sized text shuffle would be the wrong
  * trade — the condition is false and this is the identity; the
  * exchange exists only where the input is unsplittable. Keys must be
  * deterministic (guide §2.5: never rand-derived), so retried map
  * tasks reproduce the same row placement.
  *
  * Apply it BELOW the expensive expressions (right after the scan
  * projection): Catalyst keeps a projection where it stands, so a
  * repartition above a heavy `withColumn` would still evaluate the
  * heavy expression inside the scan task.
  *
  * Precondition: the input is scan-shaped. `df.rdd` would run the stages
  * below an exchange eagerly, so an input whose plan holds one is refused
  * with an `IllegalArgumentException` before anything runs.
  */
object Spread {
  def apply(df: DataFrame, keys: Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => l}
    val exchange = df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: l.Aggregate | _: l.Join | _: l.Window |
          _: l.RepartitionByExpression | _: l.RebalancePartitions) => p.nodeName
      case p: l.Sort if p.global => p.nodeName
      case p: l.Repartition if p.shuffle => p.nodeName
    }
    require(exchange.isEmpty, s"Spread needs a scan-shaped input, but its " +
      s"plan has a ${exchange.get}, which would run stages eagerly")
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, keys: _*)
  }
}
