package graft.ops

import java.io.{BufferedInputStream, BufferedOutputStream, Closeable,
  DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}

import scala.util.control.NonFatal

import net.jpountz.lz4.{LZ4BlockInputStream, LZ4BlockOutputStream, LZ4Factory}
import net.jpountz.xxhash.XXHashFactory
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.graftbridge.MemoryBridge
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}

/** In-task sorted run-length streaming over a single `Long` column.
  *
  * The generic row path (`sortWithinPartitions` → UnsafeExternalSorter)
  * carries ~36 bytes per record for an 8-byte payload: a 16-byte
  * single-long UnsafeRow + length word in the data pages plus a 16-byte
  * pointer/prefix entry in the sort array. For the dedup stats pass that
  * overhead is the WHOLE memory story — the 100× scale point spilled
  * 6.6 GiB of sorter memory re-sorting what is physically a stream of
  * longs (dev/SCALE_r15.md §2; the width ladder is exhausted — 6× width
  * regresses into map-side shuffle-writer spill). This kernel sorts the
  * same stream at exactly 8 bytes/element:
  *
  *   - elements accumulate into FIXED-SIZE primitive `long[]` segments
  *     (≤ 2 MiB each — see [[SegCapLongs]] for why never larger; sizes
  *     climb a doubling ladder so small partitions stay frugal), each
  *     sorted in place when sealed (`java.util.Arrays.sort`, primitive
  *     dual-pivot — no comparator, no boxing, and no grow-and-copy:
  *     segments are append-only);
  *   - if the buffered segments outgrow the chunk budget, they
  *     merge-stream into ONE sorted LZ4-framed raw-long temp file
  *     (sequential write, 8 B/long pre-compression, primitive PQ loop)
  *     and memory returns to zero — task memory stays bounded at
  *     `chunkLongs × 8` bytes no matter the partition size, preserving
  *     the graceful degradation the generic sorter had;
  *   - runs stream from the single segment directly (the common small
  *     case) or from a k-way merge of spill files + in-memory segments.
  *
  * '''Memory accounting (r16).''' Inside a task, every segment's bytes
  * are acquired from the task's `TaskMemoryManager` as an ON_HEAP
  * execution-memory grant through a [[MemoryConsumer]] whose spill
  * callback IS the merge-to-file path above — so Spark can see the
  * buffer, charge it against the execution pool, and reclaim it under
  * pressure from a sibling consumer (shuffle writer, generic sorter)
  * instead of the kernel coexisting beside the grant by arithmetic.
  * Three properties bound the residual unmanaged slack:
  *
  *   - the callback runs on the task thread between kernel operations
  *     (Spark forces spilling only from `acquireExecutionMemory`, which
  *     this task's consumers call between our appends), seals the
  *     current segment, merges everything buffered to one spill file,
  *     and frees the whole grant — the same code path the chunk budget
  *     exercises, so a pressure spill is behaviorally identical to a
  *     budget spill;
  *   - an under-granted acquire (pool exhausted even after our own
  *     spill) does not deadlock: the kernel allocates the ≤ 2 MiB
  *     segment anyway and tracks only what was actually granted, so the
  *     worst-case overcommit is one segment between spills — bounded,
  *     and orders of magnitude below the old whole-chunk blind spot;
  *   - once draining (merge cursors live over the sealed segments) the
  *     callback declines (returns 0) and the grant stays pinned until
  *     the cursor drains or the task completes — at most `chunkLongs × 8`
  *     bytes, released eagerly at exhaustion and defensively by the
  *     task-completion listener.
  *
  * Outside a task (driver-side unit use) there is no memory manager and
  * the chunk budget alone bounds the buffer, as before.
  *
  * Spill files go to Spark's configured scratch space, resolved in the
  * same order as Spark's own `Utils.getConfiguredLocalDirs`: a YARN
  * container's `LOCAL_DIRS`, then `SPARK_EXECUTOR_DIRS`, then
  * `SPARK_LOCAL_DIRS`, then `spark.local.dir`, falling back to
  * `java.io.tmpdir` outside a Spark runtime. Multi-dir lists
  * round-robin per spill file so spill IO spreads across the configured
  * disks instead of concentrating on the first. Files are deleted
  * eagerly as each drains, and both the open streams (write-side too —
  * a task killed mid-spill must not rely on its own finally block
  * racing the listener's delete) and the files are registered with the
  * task's completion listener so a killed task or an abandoned iterator
  * reclaims descriptors AND disk (deleting a file under a live FD keeps
  * its blocks reserved on Linux). Every spill is credited to the task's
  * memory/disk spill metrics (the counters Spark's own sorters
  * increment), so per-stage metrics and the UI see kernel spills like
  * any other spill. Outside a task an abandoned partially-drained merge
  * leaks its remaining files until JVM exit — drain or stay under one
  * chunk there.
  *
  * The default chunk budget is derived from the executor itself (a
  * quarter of this JVM's per-core heap share, floored at 1 Mi longs and
  * capped at [[MaxDefaultChunkLongs]]) — with the grant in place this is
  * a fairness ceiling rather than the only safety net; an explicit
  * `chunkLongs` overrides the derivation (tests use it to force spills).
  *
  * This is deliberately NOT a general sorter: one column, fixed width,
  * no comparator — the narrowness is what buys the 4.5× density. Callers
  * with composite keys (e.g. the candidate-pair distinct) keep the
  * spillable `sortWithinPartitions` fold.
  */
private[graft] object LongRunSort {

  /** Ceiling on the derived chunk budget: 64 Mi longs = 512 MiB/task.
    * On the measured boxes the derivation lands well below this (16g
    * heap / 32 cores → 16 Mi longs = 128 MiB/task, which still holds
    * the 100× scale point's ~6 M elements/task fully in memory — zero
    * spill, dev/SCALE_r15c.md); the ceiling exists so a huge-heap
    * low-core driver does not balloon a single task's buffer. */
  val MaxDefaultChunkLongs: Int = 64 * 1024 * 1024

  /** The executor-derived default chunk budget (see class doc): a
    * quarter of this JVM's per-core heap share, in longs. Evaluated
    * where the sort runs, so heterogeneous executors each get their
    * own bound. */
  def derivedChunkLongs(): Int = {
    val cores = math.max(1, Runtime.getRuntime.availableProcessors)
    val perTask = Runtime.getRuntime.maxMemory / 8 / cores / 4
    math.max(1L << 20, math.min(MaxDefaultChunkLongs.toLong, perTask)).toInt
  }

  /** Allocation-free run stream: `nextRun()` advances to the next
    * (value, count) pair, readable from `runValue` / `runCount` — no
    * per-run boxing. With mostly-unique keys (the production stats
    * regime) a tuple-per-run iterator allocates ~3 objects per INPUT
    * element; at ~10⁹ elements that GC churn costs more than the spill
    * it saves, so the production fold consumes this cursor directly. */
  trait RunCursor {
    var runValue: Long = 0L
    var runCount: Long = 0L
    def nextRun(): Boolean
  }

  /** Per-segment capacity: 256 Ki longs = 2 MiB. The kernel NEVER
    * allocates bigger than this — on a 16 GiB heap G1's regions are
    * 8 MiB and anything ≥ 4 MiB is a humongous allocation needing
    * contiguous regions; JDK 17 G1 retries a failed allocation only
    * twice while the GCLocker is held, and Spark's shuffle reader
    * decompresses through JNI criticals (lz4 JNI pins the buffer and
    * HOLDS the GCLocker) on every sibling core. A 128 MiB growth
    * allocation under that race OOMs with most of the heap free —
    * observed twice at the 300× scale point before this design
    * (dev/SCALE_r15c.md addendum 2). Segments also never copy: a
    * sealed segment is sorted in place and a new one allocated, so
    * there is no grow-and-copy transient either. */
  private val SegCapLongs: Int = 256 * 1024

  /** Sorted (value, runLength) runs of the multiset `it`, as a
    * primitive cursor. `chunkLongs <= 0`
    * means "derive from this JVM" ([[derivedChunkLongs]]); `spillTo`
    * overrides the scratch-dir resolution (spec injection — production
    * callers leave it null). */
  def runCursor(it: Iterator[Long], chunkLongs: Int = 0,
      spillTo: File = null): RunCursor = {
    val chunk = if (chunkLongs <= 0) derivedChunkLongs() else chunkLongs
    require(chunk >= 2, s"chunkLongs must be >= 2, got $chunk")
    val sorter = new TaskSorter(chunk, spillTo)
    while (it.hasNext) sorter.append(it.next())
    sorter.result()
  }

  /** The buffering/spilling state machine behind one [[runCursor]].
    * Single-task-threaded by construction: Spark invokes the memory-
    * pressure callback only from `acquireExecutionMemory`, which this
    * task's consumers (including this one, reentrantly) call between
    * kernel operations on the task thread — so `spillNow` never races
    * an in-flight append and needs no lock. */
  private final class TaskSorter(chunk: Int, explicitDir: File) {
    private val segCap = math.min(SegCapLongs, chunk)
    // the task thread and context, captured at construction: the
    // single-task-threaded contract above rests on every kernel
    // operation (and thus every reentrant spill callback) running on
    // this thread — a FOREIGN thread reaching the callback (a future
    // async sibling consumer under memory pressure) must be declined,
    // not allowed to mutate segs/buf unsynchronized; and metrics must
    // credit the owning task even if a foreign thread's TaskContext
    // thread-local resolves differently (ADVICE r16)
    private val ownerThread = Thread.currentThread()
    private val taskCtx = TaskContext.get()
    private val spills = new scala.collection.mutable.ArrayBuffer[File]()
    private val spillCounts = new scala.collection.mutable.ArrayBuffer[Long]()
    // LinkedHashSet, not ArrayBuffer: drained read streams deregister
    // themselves (openSpill) and the write stream deregisters at close
    // — with ~10⁵ spill files (the pathological-knob consolidation
    // case) positional removal was a linear scan over an
    // ever-growing buffer and closed streams accumulated until task
    // end (ADVICE r16); O(1) add/remove keeps live bookkeeping at
    // fan-in + 1 entries in every phase
    private val streams = new scala.collection.mutable.LinkedHashSet[Closeable]()
    // sealed, individually sorted segments awaiting merge; sizes climb
    // a doubling ladder to segCap (allocation only, never a copy) so
    // small partitions stay frugal
    private val segs = new scala.collection.mutable.ArrayBuffer[Array[Long]]()
    private val segLens = new scala.collection.mutable.ArrayBuffer[Int]()
    private var buffered = 0L // longs held in sealed segments
    private var buf: Array[Long] = null
    private var n = 0
    private var nextLen = math.min(segCap, 1 << 14)
    // volatile: the foreign-thread spill callback reads it to stop
    // recording requests once the drain owns the segment arrays (the
    // flag lifecycle hygiene of ADVICE r18 — see [[spillRequested]])
    @volatile private var draining = false
    private var grantedBytes = 0L
    // Cross-task pressure arriving on a FOREIGN thread cannot spill
    // (the lock-free design is sound only on the task thread), but
    // unconditionally declining meant such pressure was NEVER
    // serviced while this kernel idled holding its grant — on a
    // contended executor, siblings could spill or OOM against bytes
    // this task would happily release (ADVICE r17). The callback
    // instead records the request here (volatile: foreign write,
    // owner read) and the owner honors it at the next segment
    // boundary — or at drain start, for a request landing after the
    // last append — without breaking the single-thread contract. The
    // one window where a request cannot be serviced is mid-DRAIN
    // (the merge cursors pin positions inside the sealed arrays);
    // there the callback's decline is final, as before. A stale
    // request (pressure already relieved by others) costs at most one
    // unnecessary spill of data that was heading to the merge anyway.
    @volatile private var spillRequested = false

    /** The execution-memory grant (null outside a task). The callback
      * is the budget-spill path verbatim; `trigger eq this` (Spark
      * asking the requester itself to make room for its own acquire)
      * is correct to honor — the old grant is freed so the new ask
      * fits. */
    private val consumer: MemoryConsumer = {
      val tmm = MemoryBridge.taskMemoryManager(taskCtx)
      if (tmm == null) null
      else new MemoryConsumer(tmm, tmm.pageSizeBytes(), MemoryMode.ON_HEAP) {
        // decline (0) from any thread that is not the task thread —
        // always legal for a consumer — but LEAVE A NOTE: the owner
        // services [[spillRequested]] at its next segment boundary,
        // so cross-task pressure is eventually honored rather than
        // starved for the kernel's whole build (ADVICE r17). Returns
        // 0 from the foreign call itself: the bytes are freed
        // asynchronously and claiming them now would lie to the
        // requester's accounting.
        override def spill(size: Long, trigger: MemoryConsumer): Long =
          if (Thread.currentThread() ne ownerThread) {
            // once draining, the mid-drain decline is FINAL (merge
            // cursors pin the sealed arrays) — don't record a request
            // nobody will ever service, so the flag cannot sit stale
            // for the kernel's remaining lifetime (ADVICE r18). A
            // request threading the needle between the drain-start
            // clear in result() and this volatile read is harmless:
            // nothing reads the flag after drain start.
            if (!draining) spillRequested = true
            0L
          } else spillNow()
      }
    }

    locally {
      val ctx = taskCtx
      if (ctx != null) ctx.addTaskCompletionListener[Unit] { _ =>
        // close BEFORE delete: a deleted file under a live descriptor
        // keeps its blocks reserved (and the FD allocated) until GC
        streams.foreach(s => try s.close() catch { case NonFatal(_) => () })
        spills.foreach(f => if (f.exists()) f.delete())
        freeAll()
      }
    }

    def append(v: Long): Unit = {
      if (buf == null || n == buf.length) grow()
      buf(n) = v; n += 1
    }

    private def seal(): Unit = if (n > 0) {
      java.util.Arrays.sort(buf, 0, n)
      segs += buf; segLens += n; buffered += n
      buf = null; n = 0
    }

    private def grow(): Unit = {
      seal()
      val len = nextLen
      // budget reached — or a foreign thread requested a spill since
      // the last boundary (deferred cross-task pressure, ADVICE r17):
      // merge-stream every sealed segment into ONE sorted spill file
      // and drop them (memory returns to zero)
      if (spillRequested || (buffered + len > chunk && segs.nonEmpty)) spillNow()
      // may reentrantly call spillNow() via the consumer callback —
      // safe here: buf is sealed (null) and segs are mergeable
      val got = if (consumer != null) consumer.acquireMemory(len.toLong * 8) else 0L
      grantedBytes += got
      buf = new Array[Long](len)
      nextLen = math.min(segCap.toLong, len * 2L).toInt
    }

    /** Budget spill and memory-pressure callback: seal, merge every
      * buffered segment to one sorted spill file, free the grant.
      * Declines (0) once draining — the merge cursors hold positions
      * inside the sealed arrays. The spill is credited to the task's
      * memory/disk spill metrics (r16) so Spark's per-stage metrics
      * and UI see the kernel's spills like any sorter's — previously
      * the LZ4 files were invisible and per-stage wall was the only
      * readout (the r15 observability caveat, now closed). */
    def spillNow(): Long = {
      if (draining) return 0L
      // owner thread is servicing now — consume any pending foreign
      // request (cleared even when there is nothing buffered to free:
      // the request means "release what you can", and nothing is all
      // there is)
      spillRequested = false
      seal()
      if (segs.isEmpty) return 0L
      val f = writeSpill(segCursors(segs, segLens), buffered, spills, streams, explicitDir)
      spillCounts += buffered
      MemoryBridge.addSpillMetrics(taskCtx, buffered * 8, f.length())
      segs.clear(); segLens.clear(); buffered = 0L
      val freed = grantedBytes
      if (freed > 0 && consumer != null) consumer.freeMemory(freed)
      grantedBytes = 0L
      freed
    }

    /** Release the grant and drop the arrays — at drain exhaustion and
      * (defensively) at task completion. Idempotent. */
    private def freeAll(): Unit = {
      segs.clear(); segLens.clear(); buf = null; n = 0; buffered = 0L
      if (grantedBytes > 0 && consumer != null) consumer.freeMemory(grantedBytes)
      grantedBytes = 0L
    }

    def result(): RunCursor = {
      // honor a foreign request that landed AFTER the last append:
      // grow() never runs again, yet the sealed segments (up to
      // chunkLongs × 8 bytes) would stay pinned for the whole lazy
      // drain — the exact starvation the deferred-honor design exists
      // to prevent (review r18). The segments were heading into the
      // merge anyway; the only cost is streaming them back from disk.
      if (spillRequested) spillNow() else seal()
      draining = true
      // a foreign request that landed between the check above and the
      // draining write gets the documented final decline — clear it so
      // the one-shot flag cannot outlive its decline window as stale
      // state (ADVICE r18; the callback stops recording once it sees
      // draining, so this is the last write the flag ever takes)
      spillRequested = false
      // Bounded-fan-in consolidation (r16, found by the randomized
      // interleaving differential, NOT by production settings): the
      // final merge opens every live spill file at once, and a
      // pathological-but-valid chunk (the knob floor is 2) can create
      // O(N/chunk) files — measured FD exhaustion at ~10⁵ files.
      // Batches of ≤ [[MaxMergeFanIn]] oldest files merge into one
      // (inputs deleted as they drain, merged output appended to the
      // BACK so same-generation files meet each other — IO is
      // O(N·log₆₄ files)); live descriptors are bounded at fan-in + 1
      // in every phase. Sane chunks (the ≥ 1 Mi-long derivation) never
      // reach the loop.
      while (spills.length > MaxMergeFanIn) {
        val batch = spills.take(MaxMergeFanIn).toArray
        val total = spillCounts.take(MaxMergeFanIn).sum
        writeSpill(batch.map(openSpill(_, streams)), total, spills, streams, explicitDir)
        spillCounts += total
        spills.remove(0, MaxMergeFanIn)
        spillCounts.remove(0, MaxMergeFanIn)
      }
      val inner =
        if (spills.isEmpty && segs.isEmpty) bufferRuns(EmptySeg, 0)
        else if (spills.isEmpty && segs.length == 1) bufferRuns(segs(0), segLens(0))
        else mergedRuns(spills.toArray.map(openSpill(_, streams)) ++ segCursors(segs, segLens))
      new RunCursor {
        def nextRun(): Boolean = {
          val has = inner.nextRun()
          if (has) { runValue = inner.runValue; runCount = inner.runCount }
          else freeAll()
          has
        }
      }
    }
  }

  private val EmptySeg = new Array[Long](0)

  /** Max spill files merged (and thus file descriptors held) at once —
    * both in the drain-start consolidation loop and the final k-way
    * merge. 64 keeps a task's worst-case FD load trivial while making
    * consolidation passes logarithmic in file count. */
  private val MaxMergeFanIn = 64

  private def segCursors(segs: collection.Seq[Array[Long]],
      lens: collection.Seq[Int]): Array[Cursor] =
    segs.indices.map(i => bufferCursor(segs(i), lens(i))).toArray

  /** Round-robin cursor over the configured scratch dirs, so one
    * task's successive spill files spread across the disks. */
  private val dirTick = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Spark's scratch space if this JVM is a Spark runtime, resolved in
    * `Utils.getConfiguredLocalDirs` order: a YARN container's
    * `LOCAL_DIRS` (the cluster manager hands executors their dirs in
    * that variable, NOT SPARK_LOCAL_DIRS), then SPARK_EXECUTOR_DIRS,
    * then SPARK_LOCAL_DIRS, then spark.local.dir, else tmpdir. */
  private def spillDir(): File = {
    val configured = sys.env.get("LOCAL_DIRS").filter(_ => sys.env.contains("CONTAINER_ID"))
      .orElse(sys.env.get("SPARK_EXECUTOR_DIRS"))
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .orElse(Option(SparkEnv.get).flatMap(e => Option(e.conf.get("spark.local.dir", null))))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dirs = configured.split(',').map(_.trim).filter(_.nonEmpty)
    // a degenerate config ("," or whitespace-only) filters to nothing;
    // degrade to tmpdir rather than floorMod-by-zero at first spill
    if (dirs.isEmpty) new File(System.getProperty("java.io.tmpdir"))
    else new File(dirs(math.floorMod(dirTick.getAndIncrement(), dirs.length)))
  }

  /** Pure-Java LZ4 for the spill streams — NEVER the JNI instance.
    * The JNI codec compresses inside GetPrimitiveArrayCritical, which
    * holds the JVM's GCLocker; with every core running this kernel,
    * tasks sitting in JNI criticals while their siblings allocate
    * 128 MiB growth arrays starve the GCLocker's allocation retries
    * and the JVM throws OOM with plenty of collectable heap — observed
    * nondeterministically at the 300× scale point (one clean leg, one
    * OOM leg, same binary and data). The Java codec is ~80% of JNI
    * throughput on these streams, and spill IO is not the bottleneck.
    * Same reason the checksum is the Java xxhash, not the default
    * `fastestInstance` (also JNI). */
  private val Lz4Seed = 0x9747b28c // LZ4BlockOutputStream's default checksum seed

  /** Merge-streams the sorted segment cursors into one sorted spill
    * file of `count` longs — a primitive PQ loop, no per-element
    * boxing on the spill path. The write stream is registered in
    * `streams` for its lifetime so a task killed mid-spill releases
    * the descriptor through the completion listener rather than
    * relying on this thread's finally racing the listener's delete. */
  private def writeSpill(cursors: Array[Cursor], count: Long,
      spills: scala.collection.mutable.ArrayBuffer[File],
      streams: scala.collection.mutable.LinkedHashSet[Closeable],
      explicitDir: File): File = {
    val f = File.createTempFile("graft-lruns", ".lz4",
      if (explicitDir != null) explicitDir else spillDir())
    spills += f // register BEFORE writing: a disk-full mid-write must not orphan it
    val out = new DataOutputStream(new LZ4BlockOutputStream(
      new BufferedOutputStream(new FileOutputStream(f), 1 << 16), 1 << 16,
      LZ4Factory.fastestJavaInstance().fastCompressor(),
      XXHashFactory.fastestJavaInstance().newStreamingHash32(Lz4Seed).asChecksum(),
      false))
    streams += out
    try {
      out.writeLong(count)
      val heap = new java.util.PriorityQueue[Cursor](
        math.max(1, cursors.length),
        (a: Cursor, b: Cursor) => java.lang.Long.compare(a.head, b.head))
      cursors.foreach(c => if (c.hasHead) heap.add(c))
      while (!heap.isEmpty) {
        val cur = heap.poll()
        out.writeLong(cur.head)
        cur.advance()
        if (cur.hasHead) heap.add(cur)
      }
    } finally {
      out.close()
      streams -= out
    }
    f
  }

  /** A drained-in-order source for the merge: `head` is valid while
    * `hasHead`; `advance()` moves past it (closing/deleting a spill
    * file at its end). */
  private trait Cursor {
    var hasHead: Boolean
    var head: Long
    def advance(): Unit
  }

  private def bufferCursor(buf: Array[Long], n: Int): Cursor = new Cursor {
    private var i = 0
    var hasHead: Boolean = n > 0
    var head: Long = if (n > 0) buf(0) else 0L
    def advance(): Unit = {
      i += 1
      if (i < n) head = buf(i) else hasHead = false
    }
  }

  private def openSpill(f: File,
      streams: scala.collection.mutable.LinkedHashSet[Closeable]): Cursor = new Cursor {
    private val in = new DataInputStream(new LZ4BlockInputStream(
      new BufferedInputStream(new FileInputStream(f), 1 << 16),
      LZ4Factory.fastestJavaInstance().fastDecompressor(),
      XXHashFactory.fastestJavaInstance().newStreamingHash32(Lz4Seed).asChecksum()))
    streams += in
    private var remaining = in.readLong()
    var hasHead: Boolean = false
    var head: Long = 0L
    advance0()
    private def advance0(): Unit =
      if (remaining > 0) { head = in.readLong(); remaining -= 1; hasHead = true }
      // deregister on drain: a closed stream left registered is
      // harmless to re-close but accumulates O(total files) in the
      // pathological consolidation case (ADVICE r16)
      else { hasHead = false; in.close(); streams -= in; f.delete() }
    def advance(): Unit = advance0()
  }

  private def bufferRuns(buf: Array[Long], n: Int): RunCursor =
    new RunCursor {
      private var i = 0
      def nextRun(): Boolean = {
        if (i >= n) return false
        val v = buf(i)
        var c = 0L
        while (i < n && buf(i) == v) { c += 1; i += 1 }
        runValue = v; runCount = c
        true
      }
    }

  private def mergedRuns(cursors: Array[Cursor]): RunCursor = {
    val heap = new java.util.PriorityQueue[Cursor](
      math.max(1, cursors.length),
      (a: Cursor, b: Cursor) => java.lang.Long.compare(a.head, b.head))
    cursors.foreach(c => if (c.hasHead) heap.add(c))
    new RunCursor {
      def nextRun(): Boolean = {
        if (heap.isEmpty) return false
        val v = heap.peek().head
        var c = 0L
        while (!heap.isEmpty && heap.peek().head == v) {
          val cur = heap.poll()
          // count v's run within this cursor before re-offering it
          while (cur.hasHead && cur.head == v) { c += 1; cur.advance() }
          if (cur.hasHead) heap.add(cur)
        }
        runValue = v; runCount = c
        true
      }
    }
  }
}
