package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import graft.core.{Event, EventType, Hierarchy, ResourceType, Subjects}

/** Shape of the generated resource hierarchy: what a workload varies to
  * lay out its groups. Everything else about the traffic is in [[Shape$]]
  * and shared by every workload.
  *
  * @param projects    projects in the hierarchy
  * @param collections collections per project
  * @param zipf        skew exponent over projects, collections and
  *                    objects (0 = uniform) */
final case class Shape(projects: Int, collections: Int = 20, zipf: Double = 1.0)

/** The traffic every workload shares. The event mix is assumed, not
  * measured: neither the paper nor the reference server documents one.
  * It is weighted towards objects, as in a storage system where objects
  * outnumber the containers that hold them and most changes are uploads. */
object Shape {
  val ObjectsPerCollection = 32
  val ObjectGroupsPerCollection = 4
  /** Shares of PROJECT, COLLECTION and OBJECTGROUP events; the rest are
    * OBJECT events in 0–2 object groups. */
  val ProjectShare = 0.01
  val CollectionShare = 0.05
  val ObjectGroupShare = 0.20
}

/** One generated event: its emission sequence and the subjects the
  * engine's fan-out publishes it under. */
final case class GenEvent(seq: Long, event: Event, subjects: Seq[String])

/** The seeded synthetic event generator shared by the delivery workloads.
  *
  * Events about objects and object groups carry `e<seq>` as their
  * resourceId, so a receipt joins back to its emission. PROJECT and
  * COLLECTION events must carry the resource's own id (their subject is
  * built from it); those are joined first-in first-out per group and id,
  * which is exact because a group's deliveries are ordered. */
final class EventGen(seed: Long, val shape: Shape) {
  private val rnd = new SplittableRandom(seed)
  private var seq = 0L

  private def cdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, shape.zipf))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private val projCdf = cdf(shape.projects)
  private val collCdf = cdf(shape.collections)
  private val objCdf = cdf(Shape.ObjectsPerCollection)
  /** Random rank permutation per project, so the hot collections
    * differ between projects. */
  private val collRank = Array.fill(shape.projects)(shuffled(shape.collections))

  private def shuffled(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private def draw(c: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(c, rnd.nextDouble())
    math.min(c.length - 1, if (i >= 0) i else -i - 1)
  }

  /** The most frequent collection of project `p`. */
  def hotCollection(p: Int): Int = collRank(p)(0)

  def next(): GenEvent = {
    val p = draw(projCdf)
    val c = collRank(p)(draw(collCdf))
    val (proj, coll) = (EventGen.project(p), EventGen.collection(p, c))
    val id = s"e$seq"
    val u = rnd.nextDouble()
    import Shape._
    val ev =
      if (u < ProjectShare)
        Event(ResourceType.Project.name, EventType.Updated, proj, proj, "", "", Nil, null)
      else if (u < ProjectShare + CollectionShare)
        Event(ResourceType.Collection.name, EventType.Updated, coll, proj, "", "", Nil, null)
      else if (u < ProjectShare + CollectionShare + ObjectGroupShare)
        Event(ResourceType.ObjectGroup.name, EventType.Created, id, proj, coll, "",
          Seq(EventGen.objectGroup(p, c, rnd.nextInt(ObjectGroupsPerCollection))), null)
      else {
        val groups = (0 until rnd.nextInt(3)).map(_ => rnd.nextInt(ObjectGroupsPerCollection)).distinct
        Event(ResourceType.Object.name, EventType.Created, id, proj, coll,
          EventGen.sharedObject(p, c, draw(objCdf)), groups.map(EventGen.objectGroup(p, c, _)), null)
      }
    val g = GenEvent(seq, ev.copy(ts = EventGen.Epoch), EventGen.subjectsOf(ev))
    seq += 1
    g
  }
}

object EventGen {
  val Epoch = new java.sql.Timestamp(0L)
  def project(p: Int): String = s"p$p"
  def collection(p: Int, c: Int): String = s"p${p}c$c"
  def sharedObject(p: Int, c: Int, o: Int): String = s"p${p}c${c}s$o"
  def objectGroup(p: Int, c: Int, g: Int): String = s"p${p}c${c}g$g"

  /** The emission sequence a resourceId encodes, or -1 for a resource's own id. */
  def seqOf(resourceId: String): Long =
    if (resourceId.length > 1 && resourceId.charAt(0) == 'e') resourceId.substring(1).toLong else -1L

  /** Publish subjects of an event, computed on the driver from the
    * subject grammar (the engine computes them in its fan-out). */
  def subjectsOf(e: Event): Seq[String] = {
    val ogs = e.objectGroups.map(g => Subjects.objectGroupSubject(e.project, e.collection, g, e.resourceId))
    e.resource match {
      case "PROJECT" => Seq(Subjects.projectSubject(e.resourceId))
      case "COLLECTION" => Seq(Subjects.collectionSubject(e.project, e.resourceId))
      case "OBJECTGROUP" => ogs
      case "OBJECT" => ogs :+ Subjects.objectSubject(e.project, e.collection, e.sharedObject, e.resourceId)
      case _ => Nil
    }
  }
}

/** A stream group as the benchmark registers it. */
final case class GroupSpec(id: String, rt: ResourceType, resourceId: String, h: Hierarchy,
                           includeSub: Boolean) {
  val filter: String = Subjects.queryFor(rt, resourceId, h, includeSub)
}

object GroupSpec {
  def projectTree(p: Int): GroupSpec =
    GroupSpec(s"proj-${EventGen.project(p)}", ResourceType.Project, EventGen.project(p),
      Hierarchy(projectId = EventGen.project(p)), includeSub = true)
  def collection(p: Int, c: Int, subtree: Boolean, tag: String = ""): GroupSpec =
    GroupSpec(s"coll${if (subtree) "tree" else "exact"}$tag-${EventGen.collection(p, c)}",
      ResourceType.Collection, EventGen.collection(p, c),
      Hierarchy(projectId = EventGen.project(p)), includeSub = subtree)
}

/** Driver-side record of what each group must receive, and the checks
  * run on every receipt and at the end of a run:
  *  - every event reaches every group whose filter matches one of its
  *    subjects ([[Subjects.matches]]), at least once;
  *  - no group receives an event its filter does not match;
  *  - a chunk id never maps to two different payloads;
  * plus the drain check the workloads make against the ledger.
  *
  * Rows are counted once per distinct chunk id, so a redelivered chunk
  * adds nothing; its payload is compared with the first delivery. */
final class Checker(submitNs: Long => Long) {
  private final class G(val spec: GroupSpec, val complete: Boolean) {
    val expected = new java.util.BitSet
    val received = new java.util.BitSet
    val fifo = mutable.Map.empty[String, mutable.Queue[Long]]
  }
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, G]()
  /** filter subject → groups, for candidate lookup by subject prefix */
  private val byFilter = mutable.Map.empty[String, List[G]]
  private val chunks = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val redelivered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val violations = new java.util.concurrent.atomic.AtomicLong(0L)
  val expectedDeliveries = new java.util.concurrent.atomic.AtomicLong(0L)
  val duplicateChunks = new java.util.concurrent.atomic.AtomicLong(0L)
  private val firstReceipts = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Deliveries received so far (first receipts of an event by a group). */
  def delivered: Long = firstReceipts.get

  /** Start tracking a group. Only groups tracked for their whole life
    * (`complete`) are checked for completeness; the rest for foreign
    * events only. */
  def track(spec: GroupSpec, complete: Boolean = true): Unit = synchronized {
    val g = new G(spec, complete)
    groups.put(spec.id, g)
    byFilter(spec.filter) = g :: byFilter.getOrElse(spec.filter, Nil)
  }
  def untrack(id: String): Unit = synchronized {
    Option(groups.remove(id)).foreach { g =>
      byFilter(g.spec.filter) = byFilter(g.spec.filter).filterNot(_ eq g)
    }
  }

  /** Records the groups an event must reach. Call before emitting it. */
  def expect(e: GenEvent): Unit = synchronized {
    val hit = mutable.LinkedHashSet.empty[G]
    e.subjects.foreach { s =>
      val toks = s.split('.')
      val cands = (1 until toks.length).map(k => toks.take(k).mkString(".") + ".>") :+ s
      cands.foreach(f => byFilter.getOrElse(f, Nil).foreach { g =>
        if (Subjects.matches(s, g.spec.filter)) hit += g
      })
    }
    hit.foreach { g =>
      g.synchronized {
        if (e.seq >= 0 && EventGen.seqOf(e.event.resourceId) == e.seq) g.expected.set(e.seq.toInt)
        else {
          g.fifo.getOrElseUpdate(e.event.resourceId, mutable.Queue.empty) += e.seq
        }
      }
      if (g.complete) expectedDeliveries.incrementAndGet()
    }
  }

  /** A chunk received by `groupId` at `recvNs`. Returns the latencies in
    * ms (receipt minus submission) of the events it delivered first. */
  def receive(groupId: String, chunkId: String, resourceIds: Seq[String], subjects: Seq[String],
              recvNs: Long): Seq[Double] = {
    val h = (resourceIds, subjects).hashCode
    val prev = chunks.putIfAbsent(chunkId, h)
    if (prev != null) {
      duplicateChunks.incrementAndGet()
      redelivered.add(chunkId)
      if (prev.intValue != h) violations.incrementAndGet()
      return Nil
    }
    val g = groups.get(groupId)
    if (g == null) { violations.addAndGet(resourceIds.size.toLong); return Nil }
    val lat = Seq.newBuilder[Double]
    g.synchronized {
      resourceIds.foreach { rid =>
        val seq = EventGen.seqOf(rid)
        if (seq >= 0) {
          if (!g.expected.get(seq.toInt)) violations.incrementAndGet()
          else if (!g.received.get(seq.toInt)) {
            g.received.set(seq.toInt); lat += (recvNs - submitNs(seq)) / 1e6
            if (g.complete) firstReceipts.incrementAndGet()
          }
        } else g.fifo.get(rid).filter(_.nonEmpty) match {
          case Some(q) =>
            val s = q.dequeue(); lat += (recvNs - submitNs(s)) / 1e6
            if (g.complete) firstReceipts.incrementAndGet()
          case None => violations.incrementAndGet()
        }
      }
    }
    lat.result()
  }

  /** Whether `chunkId` was received more than once. */
  def wasRedelivered(chunkId: String): Boolean = redelivered.contains(chunkId)

  /** Deliveries still missing from completeness-checked groups; each
    * counts as a violation. */
  def finish(): Long = {
    val missing = groups.values.toArray(Array.empty[G]).filter(_.complete).map { g =>
      g.synchronized {
        val m = g.expected.clone().asInstanceOf[java.util.BitSet]
        m.andNot(g.received)
        m.cardinality.toLong + g.fifo.values.map(_.size.toLong).sum
      }
    }.sum
    violations.addAndGet(missing)
    missing
  }
}
