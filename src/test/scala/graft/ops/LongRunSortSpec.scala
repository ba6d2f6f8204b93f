package graft.ops

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** [[LongRunSort]] is the in-task sort kernel behind the dedup stats
  * pass — these specs pin it standalone (no Spark) so the spill + merge
  * machinery is exercised deterministically at chunk sizes the scale
  * points never force. */
class LongRunSortSpec extends AnyFunSuite {
  import LongRunSortSpec.sortedRuns

  private def reference(xs: Seq[Long]): Seq[(Long, Long)] =
    xs.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)

  test("random multisets at every chunk size == driver groupBy, sorted") {
    val gen = for {
      n <- Gen.chooseNum(0, 5000)
      // a narrow value domain forces long runs; a wide one forces
      // mostly-unique keys (the production regime)
      dom <- Gen.oneOf(3L, 17L, 1000L, Long.MaxValue)
      xs <- Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue)
        .map(v => if (dom == Long.MaxValue) v else math.floorMod(v, dom)))
    } yield xs
    val cases = Gen.listOfN(12, gen).sample.getOrElse(Nil)
    assert(cases.nonEmpty)
    cases.foreach { xs =>
      val want = reference(xs)
      // chunk 2 = maximal spill-file count; 64 = a few files; 1<<20 =
      // the zero-file in-memory fast path
      for (chunk <- Seq(2, 64, 1 << 20)) {
        val got = sortedRuns(xs.iterator, chunk).toSeq
        assert(got == want, s"chunk=$chunk n=${xs.size}")
        // run-lengths must re-sum to the input size (no element lost
        // at a chunk boundary)
        assert(got.map(_._2).sum == xs.size.toLong, s"chunk=$chunk")
      }
    }
  }

  test("a run spanning several spill files merges into ONE run") {
    // 10 copies of the same value through chunk=3: the run crosses
    // three spill files and the final buffer — the merge must emit a
    // single (v, 10) run, not per-cursor fragments
    val got = sortedRuns(Iterator.fill(10)(42L), 3).toSeq
    assert(got == Seq((42L, 10L)))
    // and interleaved with neighbors that also span boundaries
    val xs = Seq(5L, 42L, 5L, 42L, 5L, 42L, 5L, 42L, 5L, 42L, 7L)
    val got2 = sortedRuns(xs.iterator, 2).toSeq
    assert(got2 == Seq((5L, 5L), (7L, 1L), (42L, 5L)))
  }

  test("empty input, single element, extreme values") {
    assert(sortedRuns(Iterator.empty, 8).isEmpty)
    assert(sortedRuns(Iterator.single(Long.MinValue), 8).toSeq ==
      Seq((Long.MinValue, 1L)))
    val xs = Seq(Long.MaxValue, Long.MinValue, 0L, Long.MaxValue, Long.MinValue)
    assert(sortedRuns(xs.iterator, 2).toSeq ==
      Seq((Long.MinValue, 2L), (0L, 1L), (Long.MaxValue, 2L)))
  }

  test("spill files are deleted as the merge drains them") {
    // a PER-TEST dir (the injectable spillTo), not the shared tmpdir —
    // counting graft-lruns* files in a shared dir races parallel
    // suites creating/deleting their own spills (review r15)
    val dir = java.nio.file.Files.createTempDirectory("lruns_del").toFile
    def spillCount = dir.listFiles((_, n) => n.startsWith("graft-lruns")).length
    val runs = sortedRuns((1 to 1000).map(_.toLong % 50).iterator, 16, dir)
    assert(spillCount > 0, "expected spill files at chunk=16 over 1000 elems")
    runs.foreach(_ => ()) // drain
    assert(spillCount == 0, "drained merge must delete its spill files")
  }

  test("memory-manager pressure forces a mid-build spill inside a real task") {
    // The r16 contract: the chunk buffer is an execution-memory grant,
    // and the spill-under-pressure callback IS the merge-to-file path.
    // Pin it end-to-end in a real task: mid-build, a sibling consumer
    // grabs the whole execution pool, which forces the task memory
    // manager to invoke the kernel's callback — the kernel must dump
    // its segments to disk (observable: spill files appear even though
    // the chunk budget is 64 Mi longs, far above the 200k elements, so
    // a budget spill is impossible), keep accepting elements under the
    // now-exhausted pool (bounded-overcommit progress guarantee, no
    // deadlock), drain correctly, and release its whole grant.
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("lruns_pressure").toFile
    val out = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val tmm = org.apache.spark.graftbridge.MemoryBridge
        .taskMemoryManager(org.apache.spark.TaskContext.get())
      var grabbed = 0L
      val greedy = new org.apache.spark.memory.MemoryConsumer(
          tmm, tmm.pageSizeBytes(), org.apache.spark.memory.MemoryMode.ON_HEAP) {
        override def spill(size: Long, trigger: org.apache.spark.memory.MemoryConsumer): Long = 0L
      }
      val n = 200000
      val src = new Iterator[Long] {
        private var i = 0
        def hasNext: Boolean = i < n
        def next(): Long = {
          i += 1
          // squeeze mid-build: ask for (effectively) the whole pool so
          // the TMM must force-spill every other consumer — the kernel
          if (i == n / 2) grabbed = greedy.acquireMemory(Long.MaxValue / 4)
          (n - i).toLong % 997
        }
      }
      val runs = sortedRuns(src, 1 << 26, dir)
      val filesAfterBuild = dir.listFiles((_, f) => f.startsWith("graft-lruns")).length
      var total = 0L; var distinct = 0L; var prev = Long.MinValue; var sorted = true
      runs.foreach { case (v, c) =>
        if (v <= prev) sorted = false
        prev = v; total += c; distinct += 1
      }
      val filesAfterDrain = dir.listFiles((_, f) => f.startsWith("graft-lruns")).length
      greedy.freeMemory(grabbed)
      val residual = tmm.getMemoryConsumptionForThisTask
      // r16: the spill must be CREDITED to the task's spill metrics
      // (kernel spills were invisible to Spark before — the r15
      // observability caveat)
      val metrics = org.apache.spark.TaskContext.get().taskMetrics()
      val (spillMem, spillDisk) = (metrics.memoryBytesSpilled, metrics.diskBytesSpilled)
      Iterator((grabbed, filesAfterBuild, total, distinct, sorted, filesAfterDrain,
        residual, spillMem, spillDisk))
    }.collect()
    val (grabbed, filesAfterBuild, total, distinct, sorted, filesAfterDrain,
      residual, spillMem, spillDisk) = out(0)
    assert(spillMem > 0L && spillDisk > 0L,
      s"kernel spills must be visible in Spark's task spill metrics, got ($spillMem, $spillDisk)")
    assert(grabbed > 0L, "the greedy consumer must have squeezed the pool")
    assert(filesAfterBuild >= 1,
      "pool pressure must have forced the kernel's spill callback (chunk budget unreachable)")
    assert(total == 200000L && distinct == 997L && sorted,
      s"pressure-spilled drain must stay correct: total=$total distinct=$distinct sorted=$sorted")
    assert(filesAfterDrain == 0, "drained merge must delete its spill files")
    assert(residual == 0L,
      s"the kernel must release its whole grant at drain exhaustion, residual=$residual")
  }

  test("FOREIGN-thread pressure: declined synchronously, honored at the next segment boundary") {
    // The lock-free callback is sound only on the task thread (the
    // single-task-threaded contract); a sibling consumer acquiring
    // from a helper thread makes the TMM invoke our callback on THAT
    // thread — the kernel must decline (return 0) rather than mutate
    // segs/buf unsynchronized (ADVICE r16). But an unconditional
    // decline starved cross-task pressure for the kernel's whole
    // build (ADVICE r17): the callback now also records the request,
    // and the OWNER thread spills at its next segment boundary.
    // Observables: the greedy foreign acquire still comes back short
    // (the decline is synchronous — the TMM's spill loop got nothing
    // from us at acquire time), but exactly ONE deferred spill file
    // appears once the task thread crosses its next grow (i=114688
    // for this element count/ladder), the spill is credited to task
    // metrics like any owner-side spill, and the drain is exact.
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("lruns_foreign").toFile
    val out = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val tmm = org.apache.spark.graftbridge.MemoryBridge
        .taskMemoryManager(org.apache.spark.TaskContext.get())
      var grabbed = 0L
      var asked = 0L
      val n = 200000
      val src = new Iterator[Long] {
        private var i = 0
        def hasNext: Boolean = i < n
        def next(): Long = {
          i += 1
          if (i == n / 2) {
            // squeeze from a helper thread, then release before the
            // task thread resumes appending (so the kernel's own next
            // acquire cannot trigger a legitimate task-thread spill)
            val t = new Thread(() => {
              val greedy = new org.apache.spark.memory.MemoryConsumer(
                  tmm, tmm.pageSizeBytes(), org.apache.spark.memory.MemoryMode.ON_HEAP) {
                override def spill(size: Long,
                    trigger: org.apache.spark.memory.MemoryConsumer): Long = 0L
              }
              asked = Long.MaxValue / 4
              grabbed = greedy.acquireMemory(asked)
              greedy.freeMemory(grabbed)
            })
            t.start(); t.join()
          }
          (n - i).toLong % 997
        }
      }
      val runs = sortedRuns(src, 1 << 26, dir)
      val filesAfterBuild = dir.listFiles((_, f) => f.startsWith("graft-lruns")).length
      var total = 0L; var distinct = 0L; var prev = Long.MinValue; var sorted = true
      runs.foreach { case (v, c) =>
        if (v <= prev) sorted = false
        prev = v; total += c; distinct += 1
      }
      val residual = tmm.getMemoryConsumptionForThisTask
      val metrics = org.apache.spark.TaskContext.get().taskMetrics()
      val (spillMem, spillDisk) = (metrics.memoryBytesSpilled, metrics.diskBytesSpilled)
      Iterator((grabbed, asked, filesAfterBuild, total, distinct, sorted,
        residual, spillMem, spillDisk))
    }.collect()
    val (grabbed, asked, filesAfterBuild, total, distinct, sorted,
      residual, spillMem, spillDisk) = out(0)
    assert(asked > 0L && grabbed < asked,
      s"the foreign acquire must have exhausted the pool through the TMM's spill loop " +
        s"(asked=$asked grabbed=$grabbed) -- the decline must stay synchronous")
    assert(filesAfterBuild == 1,
      s"the deferred foreign request must produce exactly ONE owner-side spill at the " +
        s"next segment boundary, got $filesAfterBuild files")
    assert(spillMem > 0L && spillDisk > 0L,
      s"the deferred spill must be credited to task metrics like any owner-side spill, " +
        s"got ($spillMem, $spillDisk)")
    assert(total == 200000L && distinct == 997L && sorted,
      s"foreign-squeezed drain must stay correct: total=$total distinct=$distinct sorted=$sorted")
    assert(residual == 0L,
      s"the kernel must still release its whole grant, residual=$residual")
  }

  test("a foreign request landing AFTER the last append is honored at drain start") {
    // the review-r18 gap: grow() never runs again after the final
    // append, so without the drain-start check a late foreign request
    // would be silently dropped and the sealed segments (the whole
    // grant) stay pinned for the entire lazy drain. Observable: the
    // spill file appears at result() BEFORE the first run is read,
    // and the drain (now merge-from-disk) is exact.
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("lruns_late").toFile
    val out = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val tmm = org.apache.spark.graftbridge.MemoryBridge
        .taskMemoryManager(org.apache.spark.TaskContext.get())
      val n = 100000
      var squeezed = false
      val src = new Iterator[Long] {
        private var i = 0
        def hasNext: Boolean = {
          if (i == n && !squeezed) {
            // all elements appended; squeeze from a helper thread so
            // the request lands in the window between the last append
            // and result()
            squeezed = true
            val t = new Thread(() => {
              val greedy = new org.apache.spark.memory.MemoryConsumer(
                  tmm, tmm.pageSizeBytes(), org.apache.spark.memory.MemoryMode.ON_HEAP) {
                override def spill(size: Long,
                    trigger: org.apache.spark.memory.MemoryConsumer): Long = 0L
              }
              greedy.freeMemory(greedy.acquireMemory(Long.MaxValue / 4))
            })
            t.start(); t.join()
          }
          i < n
        }
        def next(): Long = { i += 1; (n - i).toLong % 499 }
      }
      val runs = LongRunSort.runCursor(src, 1 << 26, dir)
      val filesAtDrainStart = dir.listFiles((_, f) => f.startsWith("graft-lruns")).length
      var total = 0L; var distinct = 0L; var prev = Long.MinValue; var sorted = true
      while (runs.nextRun()) {
        if (runs.runValue <= prev) sorted = false
        prev = runs.runValue; total += runs.runCount; distinct += 1
      }
      val residual = tmm.getMemoryConsumptionForThisTask
      Iterator((filesAtDrainStart, total, distinct, sorted, residual))
    }.collect()
    val (filesAtDrainStart, total, distinct, sorted, residual) = out(0)
    assert(filesAtDrainStart == 1,
      s"a post-final-append foreign request must force ONE spill at drain start, " +
        s"got $filesAtDrainStart files")
    assert(total == 100000L && distinct == 499L && sorted,
      s"late-squeezed drain must stay correct: total=$total distinct=$distinct sorted=$sorted")
    assert(residual == 0L, s"grant must be fully released, residual=$residual")
  }

  test("randomized differential: budget spills, pressure spills, and mid-drain pressure interleave") {
    // fixed-seed random cases inside ONE real task: small chunk budgets
    // make budget spills frequent, a greedy sibling consumer injects
    // pressure at random points mid-build (forcing the callback between
    // budget spills) AND mid-drain (where the callback must DECLINE),
    // and every case must still equal the driver-side groupBy
    val spark = graft.SparkTestSession.spark
    val failures = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val rnd = new scala.util.Random(4242)
      val tmm = org.apache.spark.graftbridge.MemoryBridge
        .taskMemoryManager(org.apache.spark.TaskContext.get())
      val greedy = new org.apache.spark.memory.MemoryConsumer(
          tmm, tmm.pageSizeBytes(), org.apache.spark.memory.MemoryMode.ON_HEAP) {
        override def spill(size: Long, trigger: org.apache.spark.memory.MemoryConsumer): Long = 0L
      }
      val bad = scala.collection.mutable.ArrayBuffer[String]()
      for (case_ <- 0 until 8) {
        val n = 1000 + rnd.nextInt(200000)
        val dom = Seq(3L, 1000L, Long.MaxValue)(rnd.nextInt(3))
        val chunk = Seq(2, 64, 1 << 14, 1 << 26)(rnd.nextInt(4))
        val squeezeAt = Set.fill(1 + rnd.nextInt(3))(rnd.nextInt(n))
        val xs = Array.fill(n)(if (dom == Long.MaxValue) rnd.nextLong() else rnd.nextInt(dom.toInt).toLong)
        var held = 0L
        // checklist (g) extension for the r17 thread guard: each
        // squeeze randomly comes from the TASK thread (kernel must
        // spill or proceed under-granted) or a joined FOREIGN thread
        // (kernel declines synchronously, then spills at its next
        // segment boundary — the r18 deferred-honor path) — the
        // driver-side oracle must hold under every interleaving of
        // both, including deferred spills landing between budget ones
        // a function VALUE, not a local def: a lifted local def would
        // pin the suite instance into the task closure (not serializable)
        val squeeze: () => Unit = () => {
          if (held > 0) { greedy.freeMemory(held); held = 0 } // release-then-grab: vary the pool
          if (rnd.nextBoolean()) held = greedy.acquireMemory(1L << 30)
          else {
            val t = new Thread(() => { held = greedy.acquireMemory(1L << 30) })
            t.start(); t.join()
          }
        }
        val src = new Iterator[Long] {
          private var i = 0
          def hasNext: Boolean = i < xs.length
          def next(): Long = {
            if (squeezeAt(i)) squeeze()
            val v = xs(i); i += 1; v
          }
        }
        val runs = LongRunSort.runCursor(src, chunk)
        // mid-drain pressure: after the first run, squeeze again — the
        // kernel's callback must decline (draining) without corrupting
        val want = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
        var got = 0L; var distinct = 0L; var prev = Long.MinValue; var ok = true
        var first = true
        while (runs.nextRun()) {
          if (first) { squeeze(); first = false } // mid-drain: decline either way
          if (runs.runValue <= prev) ok = false
          if (want.getOrElse(runs.runValue, -1L) != runs.runCount) ok = false
          prev = runs.runValue; got += runs.runCount; distinct += 1
        }
        if (held > 0) { greedy.freeMemory(held); held = 0 }
        if (!ok || got != n || distinct != want.size)
          bad += s"case $case_: n=$n dom=$dom chunk=$chunk ok=$ok got=$got distinct=$distinct want=${want.size}"
      }
      val residual = tmm.getMemoryConsumptionForThisTask
      if (residual != 0L) bad += s"residual grant $residual after all drains"
      Iterator(bad.toList)
    }.collect()(0)
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("in-task grant is charged and released when memory is plentiful") {
    // the no-pressure twin: the kernel acquires its segments from the
    // task memory manager (consumption visibly rises mid-build) and
    // returns to zero at drain end — Spark SEES the buffer now
    val spark = graft.SparkTestSession.spark
    val out = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val tmm = org.apache.spark.graftbridge.MemoryBridge
        .taskMemoryManager(org.apache.spark.TaskContext.get())
      val runs = LongRunSort.runCursor((1 to 100000).map(_.toLong).iterator, 1 << 26)
      val heldDuringDrain = tmm.getMemoryConsumptionForThisTask
      var total = 0L
      while (runs.nextRun()) total += runs.runCount
      val after = tmm.getMemoryConsumptionForThisTask
      Iterator((heldDuringDrain, total, after))
    }.collect()
    val (held, total, after) = out(0)
    assert(held >= 100000L * 8, s"the buffered longs must be charged to the grant, held=$held")
    assert(total == 100000L)
    assert(after == 0L, s"grant must be zero after drain, got $after")
  }

  test("rejects a degenerate chunk budget") {
    intercept[IllegalArgumentException] {
      sortedRuns(Iterator.single(1L), 1)
    }
  }

  test("derived default budget stays inside the documented envelope") {
    // chunkLongs <= 0 means "derive from this JVM": a quarter of the
    // per-core heap share, floored at 1 Mi longs, capped at the 512
    // MiB ceiling — the budget is unmanaged heap, so the derivation
    // (not a flat constant) is what keeps N concurrent tasks from
    // summing past the executor's heap (review r15c)
    val d = LongRunSort.derivedChunkLongs()
    assert(d >= (1 << 20) && d <= LongRunSort.MaxDefaultChunkLongs)
    val cores = math.max(1, Runtime.getRuntime.availableProcessors)
    assert(d.toLong * 8 * cores * 4 <= Runtime.getRuntime.maxMemory ||
      d == (1 << 20), s"derived $d longs x $cores cores exceeds a quarter of heap")
    // and the zero sentinel routes through the derivation
    assert(sortedRuns(Seq(3L, 1L, 3L).iterator, 0).toSeq ==
      Seq((1L, 1L), (3L, 2L)))
  }
}

object LongRunSortSpec {
  /** The runs of [[LongRunSort.runCursor]] as a boxed iterator (in a
    * companion, so task closures calling it capture no spec instance). */
  def sortedRuns(it: Iterator[Long], chunkLongs: Int = 0,
      spillTo: java.io.File = null): Iterator[(Long, Long)] = {
    val c = LongRunSort.runCursor(it, chunkLongs, spillTo)
    Iterator.continually(c.nextRun()).takeWhile(identity).map(_ => (c.runValue, c.runCount))
  }
}
