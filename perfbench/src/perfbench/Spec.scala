package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Workload parameters from the benchmark's spec file: the workload's own
  * section, with the `smoke` section's entries for it laid over the top
  * when a smoke run asks for them. */
final class Spec(root: JsonNode, workload: String, smoke: Boolean) {
  private val own = root.path("workloads").path(workload)
  require(own.isObject, s"unknown workload '$workload'")
  private val over = if (smoke) root.path("smoke").path(workload) else null

  private def node(key: String): JsonNode = {
    val n = if (over != null && over.has(key)) over.get(key) else own.get(key)
    require(n != null, s"spec: workload '$workload' has no '$key'")
    n
  }
  def long(key: String): Long = node(key).asLong()
  def int(key: String): Int = node(key).asInt()
  def double(key: String): Double = node(key).asDouble()

  /** Latency limit the reference states for serving (ms). */
  def latencyLimitMs: Double = root.path("latency_limit_ms").asDouble()
}

object Spec {
  def load(path: String, workload: String, smoke: Boolean): Spec =
    new Spec(new ObjectMapper().readTree(new java.io.File(path)), workload, smoke)

  def workloads(path: String): Seq[String] = {
    val it = new ObjectMapper().readTree(new java.io.File(path)).path("workloads").fieldNames()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }
}
