package graft.merge

/** Disjoint half-open-low interval sets `(lo, hi]` with touch-merge — the
  * reference's connected-offset-range span (IcebergMetadataWriter.java:406-435). */
object Intervals {

  /** normalize: sort + merge overlapping or touching intervals */
  def normalize(xs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = xs.filter(i => i._2 > i._1).sortBy(_._1)
    sorted.foldLeft(List.empty[(Long, Long)]) {
      case (acc @ ((alo, ahi) :: rest), (lo, hi)) =>
        if (lo <= ahi) (alo, math.max(ahi, hi)) :: rest   // overlap / touch
        else (lo, hi) :: acc
      case (Nil, i) => i :: Nil
    }.reverse
  }

  def add(xs: Seq[(Long, Long)], i: (Long, Long)): Seq[(Long, Long)] =
    normalize(xs :+ i)

  def covers(xs: Seq[(Long, Long)], seq: Long): Boolean =
    xs.exists { case (lo, hi) => seq > lo && seq <= hi }

  def maxHigh(xs: Seq[(Long, Long)]): Long =
    if (xs.isEmpty) Long.MinValue else xs.map(_._2).max

  /** intersection of two interval sets (normalized output) — the safe
    * initial fence for a log partition that ENTERS a grown universe: a seq
    * committed on every pre-existing partition is fenced on the new one
    * too (see MergeEngine's universe-widening rule). */
  def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val as = normalize(a); val bs = normalize(b)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0; var j = 0
    while (i < as.length && j < bs.length) {
      val (alo, ahi) = as(i); val (blo, bhi) = bs(j)
      val lo = math.max(alo, blo); val hi = math.min(ahi, bhi)
      if (hi > lo) out += ((lo, hi))
      if (ahi < bhi) i += 1 else j += 1
    }
    out.toList
  }

  /** a \ b (normalized): the seqs of `a` not covered by `b` — e.g. the
    * mirror's committed seqs its upstream no longer covers (a hard
    * upstream rollback). Interval sets here are small (normalized per
    * partition), so the quadratic carve is simpler than a merge walk and
    * never the bottleneck. */
  def subtract(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val bs = normalize(b)
    normalize(a).flatMap { case (alo, ahi) =>
      var pieces = List((alo, ahi))
      bs.foreach { case (blo, bhi) =>
        pieces = pieces.flatMap { case (lo, hi) =>
          if (bhi <= lo || blo >= hi) List((lo, hi))
          else List((lo, math.min(blo, hi)), (math.max(bhi, lo), hi))
            .filter(p => p._2 > p._1)
        }
      }
      pieces
    }
  }

  /** Merge claims `ivs`, made on EVERY partition 0..nLogPartitions-1, into
    * the committed interval sets, keeping one normalized interval list per
    * partition and carrying forward (never dropping) committed intervals of
    * partitions OUTSIDE that range — a foreign fence must survive a
    * reconfigured-down job. Shared by the epoch commit and out-of-range
    * reset paths. */
  def mergeClaims(committed: Map[Int, Seq[(Long, Long)]],
                  nLogPartitions: Int,
                  ivs: Seq[(Long, Long)])
      : Seq[graft.model.OffsetRange] =
    (0 until nLogPartitions).flatMap { p =>
      normalize(committed.getOrElse(p, Nil) ++ ivs)
        .map { case (lo, hi) => graft.model.OffsetRange(p, lo, hi) }
    } ++ committed.keySet.filter(_ >= nLogPartitions).toSeq.sorted
      .flatMap(p => committed(p).map { case (lo, hi) =>
        graft.model.OffsetRange(p, lo, hi) })

  /** Largest S such that EVERY partition's committed intervals contiguously
    * cover (-1, S] from the log origin; Long.MinValue if any partition has a
    * gap at (or a first run not anchored to) the origin. This is both the
    * completeness watermark (safe-to-read horizon) and the tombstone-purge
    * horizon.
    *
    * Foreign fences (partitions >= the running nLogPartitions, carried
    * forward by mergeClaims) DO participate in the min — which would freeze
    * the horizon at their last high forever. That state is unreachable
    * through the engine: applyEpoch fail-fasts when nLogPartitions would
    * SHRINK the committed partition universe, precisely so a reconfigured
    * job cannot strand partitions that then pin this horizon (GROWING is
    * supported: new partitions enter origin-anchored via the intersection
    * fence, so they advance this min rather than pinning it). */
  def contiguousOriginPrefix(
      offsets: Seq[graft.model.OffsetRange]): Long = {
    val byPart = offsets.groupBy(_.partitionId)
    if (byPart.isEmpty) return Long.MinValue
    byPart.values.map { rs =>
      val ivs = normalize(rs.map(r => (r.lowSeq, r.highSeq)))
      ivs.headOption.collect { case (-1L, hi) => hi }.getOrElse(Long.MinValue)
    }.min
  }
}
