package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Fnv1a64, ShingleCodes}

/** Property-style tests (seeded random cases) for the pure arithmetic the
  * engine's determinism rests on (SURVEY.md §5: cursor/segment arithmetic,
  * shingle/hash primitives). */
class PropertySpec extends AnyFunSuite {

  private val Cases = 300
  private def rng = new scala.util.Random(42)

  test("rolling shingle codes equal naive per-position base-128 codes") {
    val r = rng
    (0 until Cases).foreach { _ =>
      val n = r.nextInt(200)
      val s = (0 until n).map(_ => if (r.nextInt(6) == 0) ' ' else ('a' + r.nextInt(26)).toChar).mkString
      val k = 1 + r.nextInt(9)
      val bytes = s.getBytes("UTF-8")
      val rolled = ShingleCodes.compute(bytes, k).toLongArray().toSeq
      val naive =
        if (bytes.length < k) Seq.empty[Long]
        else (0 to bytes.length - k).map { i =>
          (0 until k).map(d => (bytes(i + d) & 0xffL) *
            graft.operators.TextOps.pow128(k - 1 - d)).sum
        }
      assert(rolled == naive, s"k=$k s='$s'")
    }
  }

  test("fnv1a64 matches an independent fold and the published test vectors") {
    // vectors from the public FNV reference (Fowler/Noll/Vo)
    assert(Fnv1a64.hash("".getBytes) == 0xcbf29ce484222325L)
    assert(Fnv1a64.hash("a".getBytes) == 0xaf63dc4c8601ec8cL)
    assert(Fnv1a64.hash("hello".getBytes) == 0xa430d84680aabd0bL)
    val r = rng
    (0 until Cases).foreach { _ =>
      val arr = Array.fill(r.nextInt(300))(r.nextInt().toByte)
      val expected = arr.foldLeft(0xcbf29ce484222325L)((h, b) =>
        (h ^ (b & 0xffL)) * 0x100000001b3L)
      assert(Fnv1a64.hash(arr) == expected)
    }
  }

  test("fused pq_code equals the naive per-subspace argmax on random vectors") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val r = rng
    val comps = graft.functions.PqCode.components(301, 8 * 4, 8)
    (0 until Cases).foreach { _ =>
      val dims = Seq(64, 63, 40, 8, 1)(r.nextInt(5)) // incl. truncated vectors
      val v = Array.fill(dims)(r.nextFloat() - 0.5f)
      val got = graft.functions.PqCode.compute(
        new GenericArrayData(v.map(_.asInstanceOf[Any])), true, 8, 4, 8, comps)
      // naive: per subspace, argmax of floor(dot·1e6+0.5) with >= (later cid
      // wins ties) — the greatest(struct(q6(dot), cid)) semantics
      var expected = 0L
      var w = 1L
      (0 until 8).foreach { s =>
        var best = Long.MinValue; var bcid = 0
        (0 until 4).foreach { c =>
          val dot = (0 until math.min(8, dims - s * 8)).map { d =>
            v(s * 8 + d).toDouble * comps(s * 4 + c)(d)
          }.sum
          val m = math.floor(dot * 1e6 + 0.5).toLong
          if (m >= best) { best = m; bcid = c }
        }
        expected += bcid * w; w *= 4
      }
      assert(got == expected, s"dims=$dims")
    }
  }

  test("sticky rebalance properties: coverage, validity, zero survivor movement") {
    import graft.log.ConsumerAssignment
    val r = rng
    (0 until Cases).foreach { _ =>
      val nTopics = 1 + r.nextInt(30)
      val topics = (0 until nTopics).map(i => f"t${r.nextInt(1000)}%04d-$i")
      val oldN = 1 + r.nextInt(8)
      val newN = 1 + r.nextInt(8)
      val old = ConsumerAssignment.roundRobin(topics, oldN).toMap
      val next = ConsumerAssignment.sticky(topics, old, newN).toMap
      assert(next.keySet == topics.toSet)                       // coverage
      assert(next.values.forall(c => c >= 0 && c < newN))       // validity
      topics.foreach { t =>                                     // stickiness
        if (old(t) < newN) assert(next(t) == old(t), s"survivor $t moved")
      }
      // orphans are dealt round-robin in sorted order
      val orphans = topics.filter(old(_) >= newN).sorted
      orphans.zipWithIndex.foreach { case (t, i) => assert(next(t) == i % newN) }
    }
  }

  test("segment rollover replay: sealed counts sum to last_sealed_entry_offset") {
    // mirrors the TLA+ invariant LastSealedIsSum
    // (reference: distributed-walrus/spec/DistributedWalrus.tla:157)
    val r = rng
    (0 until Cases).foreach { _ =>
      val commitSizes = List.fill(r.nextInt(40))(1L + r.nextInt(300))
      val maxSeg = 1L + r.nextInt(200)
      var nextOffset = 0L
      var lastSealed = 0L
      var currentSegment = 0L
      val sealedCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
      commitSizes.foreach { sz =>
        nextOffset += sz
        val open = nextOffset - lastSealed
        if (open >= maxSeg) {
          sealedCounts += open
          lastSealed += open
          currentSegment += 1
        }
      }
      assert(sealedCounts.sum == lastSealed)
      assert(currentSegment == sealedCounts.size)
      assert(nextOffset - lastSealed >= 0 && nextOffset - lastSealed < maxSeg)
      assert(sealedCounts.forall(_ >= maxSeg)) // seals only at/above threshold
    }
  }

  test("liveness — rollover progress: a crossing append always advances the open segment") {
    // TLA+ RolloverProgress (reference DistributedWalrus.tla:188-193):
    // whenever the open segment's count reaches MaxSegmentEntries, the
    // open segment id EVENTUALLY increases. The engine discharges the
    // eventuality inside the same transition — the crossing commit's
    // applyAppend seals — so the property strengthens to "immediately",
    // and no state with an over-full open segment can persist.
    val r = rng
    (0 until Cases).foreach { _ =>
      val maxSeg = 1L + r.nextInt(100)
      val st = new graft.log.TopicState
      var appended = 0L
      (0 until 1 + r.nextInt(60)).foreach { _ =>
        val sz = 1L + r.nextInt(150)
        val preSeg = st.currentSegment
        val preOpen = st.entriesInOpenSegment
        appended += sz
        st.applyAppend(appended, sz, maxSeg, _ => "n")
        if (preOpen + sz >= maxSeg)
          assert(st.currentSegment == preSeg + 1,
            s"crossing commit must roll (open=$preOpen sz=$sz max=$maxSeg)")
        else
          assert(st.currentSegment == preSeg, "no premature rollover")
        assert(st.entriesInOpenSegment < maxSeg,
          "an at-threshold open segment never survives a transition")
      }
    }
  }

  test("liveness — read progress: a cursor behind nextOffset advances every read") {
    // TLA+ ReadProgress (reference DistributedWalrus.tla:195-203) over
    // the admission model (WalrusLog.admit / budget test above): a
    // batch read delivers >= 1 entry whenever the cursor is behind,
    // whatever the byte budget, so repeated reads reach nextOffset in at
    // most |entries| calls — no livelock from a budget below the entry
    // size. (WalrusLogSpec drives the same property through the real
    // batchRead.)
    val r = rng
    (0 until Cases).foreach { _ =>
      val lens = IndexedSeq.fill(1 + r.nextInt(80))(r.nextInt(3000))
      val budget = 1L + r.nextInt(5000)
      var cursor = 0
      var steps = 0
      while (cursor < lens.size) {
        var cum = 0L
        var n = 0
        while (cursor + n < lens.size &&
          (n == 0 || cum + lens(cursor + n) <= budget)) {
          cum += lens(cursor + n); n += 1
        }
        assert(n >= 1, "a behind cursor must advance")
        cursor += n
        steps += 1
        assert(steps <= lens.size, "termination within |entries| reads")
      }
      assert(cursor == lens.size)
    }
  }

  test("budget admission: result is a prefix, never empty when input nonempty") {
    val r = rng
    (0 until Cases).foreach { _ =>
      val lens = List.fill(r.nextInt(50))(r.nextInt(5000))
      val budget = r.nextInt(20000).toLong
      // model of WalrusLog.admit
      var cum = 0L
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Int]
      var stopped = false
      lens.foreach { len =>
        if (!stopped) {
          if (admitted.isEmpty || cum + len <= budget) { admitted += len; cum += len }
          else stopped = true
        }
      }
      if (lens.nonEmpty) assert(admitted.nonEmpty)          // ≥ 1 entry
      assert(admitted.toSeq == lens.take(admitted.size))    // prefix
      if (admitted.size > 1) assert(cum <= budget)          // budget respected
    }
  }

  test("cursor clamp: recovery never resurrects consumed entries or overshoots") {
    val r = rng
    (0 until Cases).foreach { _ =>
      val persisted = r.nextLong() % 1000
      val hi = math.abs(r.nextLong() % 500)
      val clamped = math.min(math.max(persisted, 0L), hi)
      assert(clamped >= 0 && clamped <= hi)
      val count = math.max(hi - clamped, 0L)
      assert(count >= 0 && count <= hi)
    }
  }

  test("sq8 round trip: per-dim error ≤ half a grid step, idempotent on grid points") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Array[Double]) = new GenericArrayData(xs.map(_.asInstanceOf[Any]))
    val r = rng
    (0 until Cases).foreach { _ =>
      val dims = 1 + r.nextInt(64)
      val mn = Array.fill(dims)(r.nextDouble() * 4 - 2)
      val mx = mn.map(m => m + (if (r.nextInt(8) == 0) 0.0 else r.nextDouble() * 3))
      val v = mn.indices.map(d => mn(d) + r.nextDouble() * (mx(d) - mn(d))).toArray
      val row = graft.functions.Sq8Recon.compute(
        arr(v), false, arr(mn), false, arr(mx), false)
      val err = row.getDouble(3)
      // |x − r| ≤ (mx−mn)/510 per dim (half the 255-level grid step);
      // degenerate dims (mx = mn) reconstruct exactly
      val bound = mn.indices.map(d => (mx(d) - mn(d)) / 510.0).sum + 1e-9
      assert(err <= bound, s"err=$err bound=$bound dims=$dims")
      // quantizing an already-reconstructed vector is a fixed point
      val rec = mn.indices.map { d =>
        if (mx(d) == mn(d)) mn(d)
        else mn(d) + math.floor((v(d) - mn(d)) / (mx(d) - mn(d)) * 255.0 + 0.5) *
          (mx(d) - mn(d)) / 255.0
      }.toArray
      val row2 = graft.functions.Sq8Recon.compute(
        arr(rec), false, arr(mn), false, arr(mx), false)
      assert(row2.getDouble(3) <= 1e-9, "grid points must round-trip exactly")
    }
  }

  test("bucketed global rank: bucket-major + in-bucket order is the total order") {
    // the curriculumRank invariant, on the pure arithmetic: floor(s·B)
    // clamped is monotone in s, so (bucket, s, id) sorts exactly as (s, id)
    val r = rng
    (0 until Cases).foreach { _ =>
      val b = 1 + r.nextInt(128)
      val rows = (0 until (1 + r.nextInt(200))).map { i =>
        val s = r.nextInt(5) match {
          case 0 => r.nextInt(b + 1).toDouble / b // exactly on edges
          case 1 => 1.0
          case 2 => -0.25 // below range -> clamps to bucket 0
          case 3 => 1.25  // above range -> clamps to bucket B-1
          case _ => r.nextDouble()
        }
        (i.toLong, s)
      }
      def bkt(s: Double) = math.min(math.max(math.floor(s * b).toLong, 0L), (b - 1).toLong)
      val global = rows.sortBy { case (id, s) => (s, id) }.map(_._1)
      val bucketMajor = rows.sortBy { case (id, s) => (bkt(s), s, id) }.map(_._1)
      assert(bucketMajor == global, s"b=$b")
    }
  }

  test("winnow fingerprints: deque sliding minima equal naive window minima") {
    import graft.functions.WinnowFingerprints
    import graft.operators.TextOps
    val r = rng
    (0 until Cases).foreach { _ =>
      val n = r.nextInt(150)
      // skewed alphabet (3 letters) so hash ties and repeated shingles
      // actually occur — the deque's >= pop policy must not change minima
      val s = (0 until n).map(_ => ('a' + r.nextInt(3)).toChar).mkString
      val k = 1 + r.nextInt(9)
      val w = 1 + r.nextInt(20)
      val (a, b) = TextOps.hashCoeffs(1 + r.nextInt(8)).last
      val got = Option(WinnowFingerprints.compute(s.getBytes("UTF-8"), k, w, a, b))
        .map(_.toLongArray().toSet)
      val bytes = s.getBytes("UTF-8")
      val m = bytes.length - k + 1
      val expect =
        if (m <= 0) None
        else {
          val hs = (0 until m).map { i =>
            val code = (0 until k).map(d => (bytes(i + d) & 0xffL) *
              TextOps.pow128(k - 1 - d)).sum
            (a * (code % TextOps.P) + b) % TextOps.P
          }
          if (m <= w) Some(Set(hs.min))
          else Some((0 to m - w).map(j => hs.slice(j, j + w).min).toSet)
        }
      assert(got == expect, s"k=$k w=$w s='$s'")
    }
  }

  test("LIMIT/TopN trimming is sound on random logs with compactions and vacuum holes") {
    // the r10 invariant behind WalrusLogScan's pushed-limit planning: for
    // ANY commit layout — multi-topic ingests, repeated partial
    // compactions (old offsets and ts RANGES at new ids), compactions
    // merged across vacuumed commits — the kept commits contain the true
    // top-n rows. Rows are simulated from the same metadata the planner sees,
    // with compactions carrying their sources' EXACT rows (what
    // WalrusLog.compact does).
    import graft.log.{CommitRecord, TopicRange}
    import graft.sources.WalrusLogSource
    val r = rng
    (0 until Cases).foreach { caseNo =>
      val topics = (0 until 1 + r.nextInt(4)).map(i => s"t$i")
      val nextOffset = scala.collection.mutable.Map.empty[String, Long]
      var commits = Vector.empty[(CommitRecord, Boolean)]
      // commitId -> its rows (topic, offset, tsUs)
      val rowsOf = scala.collection.mutable.Map.empty[Long, Seq[(String, Long, Long)]]
      var id = 0L
      var tsMs = 1700000000000L
      (0 until 2 + r.nextInt(8)).foreach { _ =>
        if (r.nextInt(5) == 0 && commits.exists(e => !e._2)) {
          // vacuum a random live commit MID-STREAM: a later compaction
          // then merges a topic range ACROSS the reclaimed hole, so its
          // end-start OVERCOUNTS rows — the interleaving behind the
          // exact-`rows` metadata (ADVICE r10; vacuum-after-everything
          // alone never exercised it)
          val live = commits.zipWithIndex.filter { case ((_, f), _) => !f }
          val (_, idx) = live(r.nextInt(live.size))
          commits = commits.updated(idx, (commits(idx)._1, true))
        } else if (r.nextInt(4) == 0 && commits.count(e => !e._2 && e._1.topics.nonEmpty) >= 2) {
          // compact a prefix of the live commits (maxSourceBatches shape)
          val live = commits.filter(e => !e._2 && e._1.topics.nonEmpty).map(_._1)
          val srcs = live.take(2 + r.nextInt(live.size - 1))
          // bounds and exact rows mirror WalrusLog.compact: min/max and
          // sum over the sources (end-start overcounts across a hole)
          val merged = srcs.flatMap(_.topics.toSeq).groupBy(_._1).map { case (t, trs) =>
            val rs = trs.map(_._2)
            t -> TopicRange(rs.map(_.start).min, rs.map(_.end).max, 0L,
              rs.map(_.tsUsMin).min, rs.map(_.tsUsMax).max, rs.map(_.rows).sum)
          }
          tsMs += 1000L
          val rec = CommitRecord(id, tsMs, merged, None, Some(srcs.map(_.id)))
          rowsOf(id) = srcs.flatMap(c => rowsOf(c.id))
          val replaced = srcs.map(_.id).toSet
          commits = commits.map { case e @ (c, f) =>
            if (!f && replaced(c.id)) (c, true) else e } :+ ((rec, false))
          id += 1
        } else {
          // ingest commit: random topic subset, random counts
          tsMs += 1000L
          val mine = topics.filter(_ => r.nextInt(2) == 0) match {
            case Seq() => Seq(topics(r.nextInt(topics.size)))
            case s => s
          }
          val ranges = mine.map { t =>
            val start = nextOffset.getOrElse(t, 0L)
            val n = 1 + r.nextInt(5)
            nextOffset(t) = start + n
            t -> TopicRange(start, start + n, 0L, tsMs * 1000L, tsMs * 1000L, n.toLong)
          }.toMap
          rowsOf(id) = ranges.toSeq.flatMap { case (t, tr) =>
            (tr.start until tr.end).map(o => (t, o, tsMs * 1000L)) }
          commits = commits :+ ((CommitRecord(id, tsMs, ranges), false))
          id += 1
        }
      }
      // random vacuum flags on live commits (data reclaimed: no rows)
      commits = commits.map { case e @ (c, f) =>
        if (!f && r.nextInt(10) == 0) (c, true) else e }
      val spec =
        if (r.nextInt(3) == 0)
          WalrusLogSource.PruneSpec(topics =
            Some(topics.filter(_ => r.nextInt(2) == 0).toSet))
        else WalrusLogSource.PruneSpec()
      def visibleRows(of: Seq[(CommitRecord, Boolean)]) = of.collect {
        case (c, false) => rowsOf(c.id) }.flatten
        .filter { case (t, _, _) => spec.topicMatches(t) }
      val all = visibleRows(commits)
      for {
        orderCol <- Seq(None, Some("offset"), Some("ts_us"))
        fromTail <- Seq(false, true)
        n <- Seq(1, 3, 7)
      } {
        val kept = WalrusLogSource.trimForLimit(commits, spec, Some(n),
          orderCol, fromTail)
        val keptRows = visibleRows(kept)
        orderCol match {
          case None =>
            assert(keptRows.size >= math.min(n.toLong, all.size.toLong),
              s"case $caseNo: plain limit under-delivers")
          case Some(colName) =>
            val key: ((String, Long, Long)) => Long =
              if (colName == "offset") _._2 else _._3
            def topKeys(rows: Seq[(String, Long, Long)]) = {
              val sorted = rows.map(key).sorted
              (if (fromTail) sorted.reverse else sorted).take(n)
            }
            assert(topKeys(keptRows) == topKeys(all),
              s"case $caseNo: $colName tail=$fromTail n=$n spec=$spec " +
                s"kept=${kept.map(_._1.id)} of ${commits.size}\n" +
                commits.map { case (c, f) =>
                  s"  id=${c.id} flag=$f ts=${c.tsMillis} repl=${c.replaces} " +
                    c.topics.map { case (t, tr) =>
                      s"$t[${tr.start},${tr.end})lo=${tr.tsUsMin}hi=${tr.tsUsMax}"
                    }.mkString(" ")
                }.mkString("\n"))
        }
      }
    }
  }

  test("winnowing guarantee: shared >= k+w-1 run always shares a fingerprint") {
    import graft.functions.WinnowFingerprints
    import graft.operators.TextOps
    val r = rng
    val (a, b) = TextOps.hashCoeffs(1).head
    (0 until Cases).foreach { _ =>
      val k = 2 + r.nextInt(7)
      val w = 2 + r.nextInt(14)
      def rand(len: Int) = (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      val shared = rand(k + w - 1 + r.nextInt(30))
      val x = rand(r.nextInt(40)) + shared + rand(r.nextInt(40))
      val y = rand(r.nextInt(40)) + shared + rand(r.nextInt(40))
      val fx = WinnowFingerprints.compute(x.getBytes("UTF-8"), k, w, a, b).toLongArray().toSet
      val fy = WinnowFingerprints.compute(y.getBytes("UTF-8"), k, w, a, b).toLongArray().toSet
      assert((fx intersect fy).nonEmpty, s"k=$k w=$w shared='$shared'")
    }
  }
}
