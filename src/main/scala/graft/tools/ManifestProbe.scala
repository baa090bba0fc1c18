package graft.tools

import graft.ops.Snapshots

/** Manifest scale probe: grow the FILE COUNT per version (not the data —
  * the manifest layer's costs are O(live files) driver-side work and
  * never open a data file), and measure the three operations every
  * reader/committer pays: publishing a manifest naming n files, parsing
  * it back (`versionFiles`), and the incremental commit that carries n
  * prior lines plus a delta. Ghost paths are deliberate — the same
  * device ZoneMapTypedSpec uses — because nothing here stats or opens a
  * file, which is exactly the property being certified.
  *
  * The 100 TB arithmetic this probe grounds (see DESIGN.md "Manifest
  * scale bound"): 100 TB at the 128 MB compaction target is ~800k live
  * files; the probe runs past that (1M) and prints seconds + bytes per
  * row so the ceiling is measured, not guessed.
  */
object ManifestProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/tmp/graft-probe/manifest"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    Seq(10000, 100000, 1000000).foreach { n =>
      val loc = s"$base/n$n"
      val ghosts = (0 until n).map(i =>
        f"$loc/data/${i % 997}%03d-commit/part-$i%08d-probe.parquet")
      val (_, tPub) = time(Snapshots.publishAppend(spark, loc, ghosts))
      val ((files, tRead)) = time(Snapshots.versionFiles(spark, loc, 1L))
      require(files.length == n)
      // the incremental commit at n live files: reads the n-line manifest,
      // writes n+1 lines — the steady-state append cost
      val (_, tInc) = time(Snapshots.publishAppend(spark, loc,
        Seq(s"$loc/data/zzz-commit/part-extra-probe.parquet")))
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getFileStatus(new org.apache.hadoop.fs.Path(
        f"$loc/_manifests/v00002.txt")).getLen
      // a marker scan across versions reads HEADERS only — file count
      // must not matter (the O(header) claim, measured)
      val (_, tMarkers) = time(Snapshots.markers(spark, loc))
      println(f"PROBE manifest n=$n%7d: publish=$tPub%6.2fs read=$tRead%6.2fs " +
        f"inc_commit=$tInc%6.2fs markers=$tMarkers%6.3fs " +
        f"bytes=$bytes (${bytes.toDouble / (n + 1)}%.1f B/file)")
    }

    // ---- multi-manifest LIVENESS FOLD (dropBranch / expire): a deep
    // un-expired history folds refs from MANY manifests into one set.
    // The fold goes ONE manifest at a time into a mutable set, so peak
    // driver memory is the liveness set + a single manifest's refs —
    // never the 32M-string concatenation a flatMap(…).toSet would stage
    // first. Measured: wall + retained heap across 32 manifests × 1M
    // lines each (≈32M ref reads folding into a 1M-entry set), the
    // shape of a 100 TB table with a month of un-expired daily commits.
    val loc2 = s"$base/fold"
    val n2 = 1000000
    val ghosts2 = (0 until n2).map(i =>
      f"$loc2/data/${i % 997}%03d-commit/part-$i%08d-probe.parquet")
    Snapshots.publishAppend(spark, loc2, ghosts2)
    (1 to 31).foreach(v => Snapshots.publishAppend(spark, loc2,
      Seq(f"$loc2/data/zzz-commit/part-extra-$v%04d.parquet")))
    def heap(): Long = {
      System.gc(); Thread.sleep(100); System.gc()
      Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    }
    val h0 = heap()
    val ms = Snapshots.manifests(spark, loc2)
    val (live, tFold) = time {
      val acc = scala.collection.mutable.HashSet.empty[String]
      ms.foreach { case (_, mp) => acc ++= Snapshots.manifestRefs(spark, mp) }
      acc
    }
    val h1 = heap()
    require(live.size == n2 + 31, s"fold lost refs: ${live.size}")
    println(f"PROBE liveness fold: ${ms.length} manifests x ~$n2 lines " +
      f"-> set=${live.size} in $tFold%6.2fs, retained heap " +
      f"${(h1 - h0) / 1e6}%.0f MB (set-sized, not concat-sized)")

    // ---- version-CHAIN depth: a commit-per-minute table left
    // un-expired. Every read lists `_manifests` (O(versions), ONE
    // directory listing) and every MARKER-bearing publish — each
    // streaming epoch — consults the marker set. The markers cache
    // makes that consult O(new manifests) in a warm driver; the first
    // call after a restart pays the full O(versions) header sweep once.
    // Small replace-style manifests (1 line each) isolate chain DEPTH
    // from file count, which the sections above already cover.
    Seq(10000, 100000).foreach { n =>
      val loc = s"$base/chain$n"
      val (_, tBuild) = time((1 to n).foreach { v =>
        require(Snapshots.tryPublish(spark, loc, v.toLong, Snapshots.Publish(
          Seq(f"$loc/data/c$v%07d/part-0.parquet"),
          marker = Some(s"epoch-$v"))), s"chain build lost v$v")
      })
      val (latest, tList) = time(Snapshots.latestVersion(spark, loc))
      require(latest == n.toLong)
      val (tipFiles, tTip) = time(Snapshots.versionFiles(spark, loc, n.toLong))
      require(tipFiles.length == 1)
      val (mk, tCold) = time(Snapshots.markers(spark, loc))
      require(mk.size == n, s"marker sweep lost entries: ${mk.size}")
      val (_, tWarm) = time(Snapshots.markers(spark, loc))
      // the streaming-epoch shape: a marker-bearing publish at depth n
      val (_, tEpoch) = time(Snapshots.publishAppend(spark, loc,
        Seq(s"$loc/data/zz-extra/part-0.parquet"),
        marker = Some("epoch-extra")))
      println(f"PROBE chain n=$n%7d: build=$tBuild%7.2fs list=$tList%6.3fs " +
        f"tip_read=$tTip%6.3fs markers_cold=$tCold%7.2fs " +
        f"markers_warm=$tWarm%6.3fs epoch_publish=$tEpoch%6.3fs")
    }
    spark.stop()
  }
}
