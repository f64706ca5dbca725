package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A repeated execution reuses the classes Spark generated for the first
  * one: Janino compiles nothing the second time. q229 is a streaming gate,
  * whose cloned session used to get its own classloader; q154 generates
  * more classes than Spark's default codegen cache keeps; q110 is the
  * 17-relation UCT join. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  for (name <- Seq("q229_stream_cdc_latest", "q154_runtime_switch_wide",
                   "q110_job_wide17"))
    test(s"$name compiles no code when run again") {
      run(name).collect()
      val before = compiles
      run(name).collect()
      assert(compiles - before == 0, s"$name recompiled on its second run")
    }
}
