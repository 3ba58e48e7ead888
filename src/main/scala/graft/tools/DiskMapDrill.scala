package graft.tools

/** Pinned-heap drill for the bounded-heap durable backing (VERDICT r15
  * #1): proves the streaming dup-clusters state scales to a corpus-sized
  * key universe with FLAT per-batch latency and BOUNDED resident memory.
  * Run with an EXPLICIT -Xmx far below full-residency needs, e.g.
  *
  *   java -Xmx512m -cp target/scala-2.13/classes plus the JVM wildcard
  *   over /opt/spark/jars (scala-library), main graft.tools.DiskMapDrill,
  *   args: totalKeys batchSize [flushAfterKeys]
  *
  * No SparkSession anywhere — [[graft.state.DiskBackingMap]] and the
  * [[graft.streaming.IncrementalClusters]] fold are pure JVM, so the
  * heap ceiling belongs to them alone. (A MemoryBackingMap run at 10⁸
  * keys needs multiple GB just for the key map; this drill's store
  * holds ~2 B/key of probes plus a capped memtable.)
  *
  * Workload per batch (deterministic, seeded): ~60% fresh-id pairs (new
  * 2-clusters — the dominant real shape), ~20% attach-to-hot-component
  * edges (one ever-growing mega-cluster — the O(batch)-not-O(component)
  * regression canary), ~20% random re-touches of old ids (forces run
  * lookups across the whole on-disk universe — the residency canary).
  * ~1% of endpoints carry qualities so the `best` tier stays exercised.
  *
  * Reports a line per window: median/p99 per-batch ms, LSM run count +
  * sizes, the engine's resident-probe estimate, and post-GC JVM heap.
  * Ends with a RESTART PARITY probe: close all engines (process-exit
  * simulation), reopen, and require 1000 sampled ids to resolve to the
  * labels recorded before the restart.
  */
object DiskMapDrill {
  def main(args: Array[String]): Unit = {
    val totalKeys = args.lift(0).map(_.toLong).getOrElse(10000000L)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(20000)
    val flushAfterKeys = args.lift(2).map(_.toInt).getOrElse(262144)
    val dir = java.nio.file.Files.createTempDirectory("diskmap-drill").toString
    println(s"[diskmap] dir=$dir totalKeys=$totalKeys batchSize=$batchSize " +
      s"flushAfterKeys=$flushAfterKeys maxHeap=${Runtime.getRuntime.maxMemory() >> 20}MiB")
    val ic = graft.streaming.IncrementalClusters.durable(dir, flushAfterKeys)
    val parents = icParents(ic)
    val rnd = new java.util.Random(42)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var nextId = 2L // ids 0,1 seed the hot component
    var batch = 0L
    val t0 = System.nanoTime()
    // seed the hot component
    ic.foldEdges(Array((0L, 1L)), parents, Map(0L -> ((1.0, 0L))), 0L)
    val windowBatches = math.max(1, (totalKeys / batchSize / 10).toInt)
    while (nextId < totalKeys) {
      batch += 1
      val edges = Array.newBuilder[(Long, Long)]
      val quals = Map.newBuilder[Long, (Double, Long)]
      val fresh = batchSize * 3 / 5 / 2
      var i = 0
      while (i < fresh && nextId + 1 < totalKeys) {
        edges += ((nextId, nextId + 1))
        if (rnd.nextInt(100) == 0)
          quals += (nextId -> ((rnd.nextDouble(), nextId)))
        nextId += 2
        i += 1
      }
      val hot = batchSize / 5
      i = 0
      while (i < hot && nextId < totalKeys) {
        edges += ((1L, nextId)) // attach to the mega-cluster via one anchor
        nextId += 1
        i += 1
      }
      val touch = batchSize / 5
      i = 0
      while (i < touch) {
        val a = math.abs(rnd.nextLong()) % nextId
        val b = math.abs(rnd.nextLong()) % nextId
        if (a != b) edges += ((a, b))
        i += 1
      }
      val tb = System.nanoTime()
      ic.foldEdges(edges.result(), parents, quals.result(), batch)
      lat += (System.nanoTime() - tb) / 1e6
      if (batch % windowBatches == 0) {
        val w = lat.takeRight(windowBatches).sorted
        val (runCount, runSizes, resident) =
          graft.state.DiskBackingMap.stats(s"$dir/parents")
        System.gc()
        val heapMb = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) >> 20
        println(f"[diskmap] batch=$batch%6d ids=$nextId%10d " +
          f"med=${w(w.size / 2)}%8.1fms p99=${w(math.min(w.size - 1, w.size * 99 / 100))}%8.1fms " +
          f"runs=$runCount%2d sizes=${runSizes.mkString("/")} " +
          f"resident=${resident >> 20}%4dMiB heap=${heapMb}%5dMiB")
      }
    }
    val total = (System.nanoTime() - t0) / 1e9
    val all = lat.sorted
    println(f"[diskmap] DONE ids=$nextId batches=$batch wall=$total%.1fs " +
      f"med=${all(all.size / 2)}%.1fms p99=${all(all.size * 99 / 100)}%.1fms " +
      f"first-half-med=${all.take(all.size / 2).sorted.apply(all.size / 4)}%.1fms")
    // capture labels for a sample, restart, compare
    val sampleIds = (0 until 1000).map(_ => math.abs(rnd.nextLong()) % nextId).distinct
    def labels(m: graft.state.MapState[Long]): Map[Long, Long] = {
      // resolve chains exactly as a reader would (bulk gets per hop)
      sampleIds.map { id =>
        var x = id
        var hops = 0
        var p = m.multiGet(Seq(Seq[Any](x))).head.getOrElse(x)
        while (p != x && hops < 64) {
          x = p; p = m.multiGet(Seq(Seq[Any](x))).head.getOrElse(x); hops += 1
        }
        id -> x
      }.toMap
    }
    val before = labels(parents)
    graft.streaming.IncrementalClusters.closeDurable(dir)
    val ic2 = graft.streaming.IncrementalClusters.durable(dir, flushAfterKeys)
    val after = labels(icParents(ic2))
    require(before == after,
      s"restart parity FAILED: ${before.toSet.diff(after.toSet).take(5)}")
    println(s"[diskmap] restart parity OK over ${sampleIds.size} sampled ids")
    graft.streaming.IncrementalClusters.closeDurable(dir)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  /** The drill drives foldEdges directly (no Spark). */
  private def icParents(ic: graft.streaming.IncrementalClusters)
      : graft.state.MapState[Long] = ic.parents
}
