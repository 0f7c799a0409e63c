package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Exposes Spark's native bloom-filter expressions to SQL. Catalyst
  * ships `BloomFilterAggregate` / `BloomFilterMightContain` for its own
  * injected runtime filters but does not register them in the public
  * function registry — registering them here lets a query build the
  * sketch as a plan-internal scalar subquery and probe it with the
  * codegen'd `might_contain`, with no driver-side sketch build, no
  * broadcast variable, and no UDF. `might_contain` only binds a bloom
  * that is a literal or scalar subquery (enforced by its own input
  * check), which is exactly the intended shape.
  */
object NativeBloom {
  def register(spark: SparkSession): Unit = {
    GraftExtensions.registerOnce(spark, "bloom_filter_agg", "built-in")(
      es => new BloomFilterAggregate(es(0), es(1), es(2)))
    GraftExtensions.registerOnce(spark, "might_contain", "built-in")(
      es => new BloomFilterMightContain(es(0), es(1)))
  }
}
