package perfbench

/** Output checks. Each returns None when the output is correct and
  * Some(reason) when it is not; a failed check counts toward the
  * workload's error rate. They are plain Scala over collected rows, so
  * they are tested without Spark (ChecksSpec corrupts each output). */
object Checks {
  type Result = Option[String]

  private def firstMismatch[K](expected: Map[K, _], actual: Map[K, _]): Result = {
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    if (missing.nonEmpty) Some(s"${missing.size} keys missing, e.g. ${missing.head}")
    else if (extra.nonEmpty) Some(s"${extra.size} unexpected keys, e.g. ${extra.head}")
    else None
  }

  private def unique(rows: Seq[(String, String)]): Either[String, Map[String, String]] = {
    val m = rows.toMap
    if (m.size != rows.size) Left(s"${rows.size - m.size} duplicate keys") else Right(m)
  }

  /** Key → value output that must match exactly (word count, amplab1). */
  def exactKv(expected: Map[String, String], rows: Seq[(String, String)]): Result =
    unique(rows) match {
      case Left(e) => Some(e)
      case Right(actual) => firstMismatch(expected, actual).orElse(
        expected.collectFirst { case (k, v) if actual(k) != v => s"key $k: expected $v, got ${actual(k)}" })
    }

  /** Key → tab-separated numbers that must match within a tolerance
    * (amplab2, amplab3: double sums in any reduction order). */
  def numericKv(expected: Map[String, Seq[Double]], rows: Seq[(String, String)]): Result =
    unique(rows) match {
      case Left(e) => Some(e)
      case Right(actual) => firstMismatch(expected, actual).orElse {
        expected.collectFirst(Function.unlift { case (k, want) =>
          val got = actual(k).split("\t").toSeq.map(_.toDoubleOption)
          val ok = got.size == want.size && got.zip(want).forall {
            case (Some(g), w) => math.abs(g - w) <= 1e-5 + 1e-9 * math.abs(w)
            case _ => false
          }
          if (ok) None else Some(s"key $k: expected ${want.mkString(",")}, got ${actual(k)}")
        })
      }
    }

  /** Connected components of `pairs` by union-find: doc → component min,
    * for every doc that appears in some pair. */
  def unionFind(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Groups (doc → group id) equal the components of the emitted pairs,
    * with the component minimum as group id. */
  def groupsMatchPairs(groups: Seq[(Long, Long)], pairs: Iterable[(Long, Long)]): Result =
    sameGroups("union-find over emitted pairs", unionFind(pairs), groups)

  /** `groups` assigns exactly the doc → group map `expected`. */
  def sameGroups(what: String, expected: Map[Long, Long], groups: Seq[(Long, Long)]): Result = {
    val actual = groups.toMap
    if (actual.size != groups.size) Some(s"${groups.size - actual.size} docs in several groups")
    else firstMismatch(expected, actual).orElse(
      expected.collectFirst { case (d, g) if actual(d) != g =>
        s"doc $d: $what says group $g, output says ${actual(d)}" })
  }

  /** The 3-token shingles of a whitespace-separated text, the sets
    * graft's MinHash signs. */
  def shingles(text: String): Set[String] =
    text.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = (a & b).size.toDouble / (a | b).size

  /** Doc pairs (lower id first) that share a band bucket: the same key at
    * the same band index of their band-key arrays. */
  def bucketPairs(bkeys: Iterable[(Long, Seq[Long])]): Set[(Long, Long)] =
    bkeys.toSeq.flatMap { case (d, ks) => ks.zipWithIndex.map { case (k, b) => (b, k) -> d } }
      .groupBy(_._1).values.flatMap { bucket =>
        val ds = bucket.map(_._2).distinct.sorted
        for (i <- ds.indices; j <- i + 1 until ds.size) yield (ds(i), ds(j))
      }.toSet

  /** graft's near-dup contract: the emitted pairs are, each once, exactly
    * the band-bucket `candidates` whose Jaccard (`jac`) clears `threshold`. */
  def candidatePairs(emitted: Seq[(Long, Long)], candidates: Set[(Long, Long)],
      jac: ((Long, Long)) => Double, threshold: Double): Result = {
    val canon = emitted.map { case (a, b) => (a min b, a max b) }
    val got = canon.toSet
    val want = candidates.filter(jac(_) >= threshold)
    val (missing, extra) = (want -- got, got -- want)
    if (got.size != canon.size) Some(s"${canon.size - got.size} pairs emitted twice")
    else if (missing.nonEmpty)
      Some(s"${missing.size} bucket pairs at Jaccard >= $threshold not emitted, e.g. ${missing.head}")
    else if (extra.nonEmpty)
      Some(s"${extra.size} emitted pairs are not bucket pairs at Jaccard >= $threshold, e.g. ${extra.head}")
    else None
  }

  /** Planted near-duplicate links: chain neighbours, and a cluster's base
    * with each variant. Every one clears the Jaccard threshold. */
  def plantedLinks(planted: Seq[Inputs.Planted]): Seq[(Long, Long)] = planted.flatMap { p =>
    if (p.kind == "chain") p.members.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
    else p.members.tail.map(p.members.head -> _)
  }

  /** No group spans two planted components, and at least `floor` of the
    * planted links have both ends in one group. MinHash banding finds a
    * link only with some probability, so the planted components are a
    * floor on recall, not an exact answer; the exact answer is
    * [[candidatePairs]]. */
  def plantedRecall(planted: Seq[Inputs.Planted], groups: Seq[(Long, Long)], floor: Double): Result = {
    val g = groups.toMap
    val owner = planted.flatMap(p => p.members.flatMap(g.get).distinct.map(_ -> p)).groupBy(_._1)
      .find(_._2.size > 1)
    owner.map { case (gid, _) => s"group $gid spans several planted components" }.orElse {
      val links = plantedLinks(planted)
      val joined = links.count { case (a, b) => g.contains(a) && g.get(a) == g.get(b) }
      val r = joined.toDouble / links.size
      if (r >= floor) None else Some(f"$joined of ${links.size} planted links in one group ($r%.3f), below floor $floor%.2f")
    }
  }

  /** Share of planted components that are not one group. */
  def plantedSplit(planted: Seq[Inputs.Planted], groups: Seq[(Long, Long)]): Double = {
    val g = groups.toMap
    planted.count(p => g.get(p.members.head).isEmpty || p.members.map(g.get).distinct.size != 1)
      .toDouble / planted.size
  }

  /** Survivors of keep/drop: every doc but the non-leading members of
    * its group. */
  def survivors(totalDocs: Long, groups: Seq[(Long, Long)], survivors: Long): Result = {
    val losers = groups.count { case (d, g) => d != g }
    if (survivors == totalDocs - losers) None
    else Some(s"expected ${totalDocs - losers} survivors, got $survivors")
  }

  /** Share of the returned neighbours that are in the exact top-k. */
  def recall(exact: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double = {
    val returned = got.values.map(_.size).sum
    if (returned == 0) 0.0
    else got.map { case (q, ns) => ns.count(exact.getOrElse(q, Nil).toSet) }.sum.toDouble / returned
  }

  /** An ANN batch answers every query with k distinct neighbours and
    * keeps recall at or above `floor`. */
  def annBatch(exact: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]], k: Int, floor: Double): Result = {
    val short = got.find { case (_, ns) => ns.size != k || ns.distinct.size != k }
    if (got.keySet != exact.keySet) Some(s"answered ${got.size} of ${exact.size} queries")
    else short.map { case (q, ns) => s"query $q got ${ns.size} neighbours (${ns.distinct.size} distinct)" }
      .orElse {
        val r = recall(exact, got)
        if (r >= floor) None else Some(f"recall@$k $r%.3f below floor $floor%.2f")
      }
  }
}
