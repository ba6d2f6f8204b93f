package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every public member of `src/main` is reached from an entry point —
  * `SparkEntry`'s queries, a `main`, or the benchmark harness — or is
  * on the census's reasoned allow-list (`dev/reachability.py`). Code
  * only specs reach fails here, so it cannot grow back unnoticed. */
class CensusSpec extends AnyFunSuite {
  test("the reachability census lists nothing outside its allow-list") {
    val out = new StringBuilder
    val status = scala.sys.process.Process(Seq("python3", "dev/reachability.py"))
      .!(scala.sys.process.ProcessLogger(l => out ++= l + "\n", l => out ++= l + "\n"))
    val unreached = out.toString.linesIterator.filter(_.startsWith("UNREACHED")).toSeq
    assert(unreached.isEmpty && status == 0,
      s"unreached members (delete them, or allow-list them with a reason):\n$out")
    assert(out.toString.contains("0 outside the allow-list"), out.toString)
  }
}
