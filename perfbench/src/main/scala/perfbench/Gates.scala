package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Correctness gates. Every check is named; a failed check fails the run
  * and the result names it. `corrupt` names gates whose expected answers
  * the benchmark deliberately corrupts, to show that each gate fires. */
final class Gates(val corrupt: Set[String]) {
  private val failures = new ConcurrentHashMap[String, AtomicLong]()
  private val examples = new ConcurrentHashMap[String, String]()
  private val passes = new ConcurrentHashMap[String, AtomicLong]()

  def corrupted(gate: String): Boolean = corrupt.contains(gate)

  def check(gate: String, ok: Boolean, detail: => String): Unit =
    if (ok) passes.computeIfAbsent(gate, _ => new AtomicLong()).incrementAndGet()
    else {
      failures.computeIfAbsent(gate, _ => new AtomicLong()).incrementAndGet()
      examples.putIfAbsent(gate, detail.take(300))
    }

  def failed: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    failures.forEach((k, v) => b += k -> v.get)
    b.result()
  }

  def passed: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    passes.forEach((k, v) => b += k -> v.get)
    b.result()
  }

  def ok: Boolean = failures.isEmpty

  def json: String = {
    val names = (failed.keySet ++ passed.keySet).toSeq.sorted
    Stats.objJson(names.map { n =>
      n -> Stats.objJson(Seq(
        "passed" -> passed.getOrElse(n, 0L).toString,
        "failed" -> failed.getOrElse(n, 0L).toString) ++
        Option(examples.get(n)).map(e => "example" -> Stats.str(e)).toSeq)
    })
  }
}
