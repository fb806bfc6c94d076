package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.budget.Rat

/** What keeps repeated DP releases compiled. Spark's code-generation cache
  * is keyed by generated source, and its size is a static conf that
  * build.sbt's `javaOptions` sets for every forked JVM. Noised projections
  * must then generate one source whatever the mechanism's scale, so a new
  * epsilon is a cache hit. Sources are compared, not the JVM-wide compile
  * counters: suites share one JVM and run concurrently.
  */
class CodegenCacheSpec extends SparkSpec {

  test("the forked JVM's session reads a 256-entry code-generation cache " +
      "(build.sbt javaOptions)") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "256")
  }

  /** The whole-stage sources of `df`'s executed plan. */
  private def sources(df: DataFrame): Seq[String] =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)

  test("a noised projection generates one source for every scale and " +
      "mechanism of a column type") {
    val sess = codegenSession("CODEGEN_ONLY")
    val ids = sess.range(100)
    def longNoised(m: NoiseMechanism) =
      sources(ids.select(Noise.addLongNoise(col("id"), m).as("v")))
    def doubleNoised(m: NoiseMechanism) =
      sources(ids.select(Noise.addDoubleNoise(col("id").cast("double"), m).as("v")))

    val long = Seq(NoiseMechanism.Geometric(Rat(2)), NoiseMechanism.Geometric(Rat(4)),
      NoiseMechanism.DiscreteGaussian(Rat(3))).map(longNoised)
    assert(long.head.size === 1)
    assert(long.head.head.contains("graft.exec.Noise.drawLong("), long.head.head)
    long.tail.foreach(s => assert(s === long.head))

    val double = Seq(NoiseMechanism.Laplace(Rat(2)), NoiseMechanism.Gaussian(Rat(3)))
      .map(doubleNoised)
    assert(double.head.size === 1)
    assert(double.head.head.contains("graft.exec.Noise.drawDouble("), double.head.head)
    assert(double(1) === double.head)
  }
}
