package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hierarchical subject algebra — the reference's "query language".
  *
  * Reproduces the semantics of `/root/reference/src/utils/utils.rs:16-147`
  * (subject/query construction) and the NATS token-matching rules the
  * reference delegates to its broker: subjects are `.`-separated token
  * paths; a query ending `._` matches exactly one subject (the publish
  * subject itself, which always ends `._` — utils.rs:45,57,81,113); a
  * query ending `.>` matches every subject that extends the base path by
  * one or more tokens, which includes the resource's own publish subject
  * (its terminal `._` sorts under `>`).
  *
  * Everything here is a pure string function plus an equivalent Catalyst
  * `Column` form, so the same algebra runs on the driver (tests, golden
  * strings) and inside codegen'd distributed plans (no UDFs).
  */
object Subjects {
  /** utils.rs:1 `STREAM_SUBJECT_COMMMON_PREFIX` */
  val Root = "UPDATES.STORAGE"
  /** utils.rs:2-3 discriminator tokens inserted before level-3 ids */
  val ObjectName = "OBJECT"
  val ObjectGroupName = "OBJECTGROUP"
  /** Level separator (utils.rs "splited by ._.") */
  val Sep = "._."

  /** NATS token rules: an id becomes one subject token, so it must not
    * contain the separator, wildcards, whitespace or control/quote
    * characters (which would also break the WAL's JSON encoding). The
    * reference never validates — malformed ids silently corrupt its
    * subject space; we reject them at the boundary. */
  def requireValidId(id: String, what: String = "id"): Unit = {
    require(id.nonEmpty, s"$what must be non-empty")
    require(!id.exists(c => c == '.' || c == '*' || c == '>' || c == '"' ||
      c == '\\' || c.isWhitespace || c.isControl),
      s"$what contains characters illegal in a subject token: '$id'")
  }

  /** utils.rs:16-32 `base_subject`: join ids with `._.`, inserting the
    * OBJECT/OBJECTGROUP discriminator before the third id (stage==2). */
  def baseSubject(ids: Seq[String], isObjectGroup: Boolean): String = {
    val sb = new StringBuilder(Root)
    ids.zipWithIndex.foreach { case (id, stage) =>
      if (stage == 2) sb.append(Sep).append(if (isObjectGroup) ObjectGroupName else ObjectName)
      sb.append(Sep).append(id)
    }
    sb.toString
  }

  /** utils.rs:35-42 `query`: `.>` = include subtree, `._` = exact. */
  def query(base: String, includeSubresources: Boolean): String =
    if (includeSubresources) s"$base.>" else s"$base._"

  // ---- publish subjects (always exact-terminated `._`; utils.rs:44-126) ----
  def projectSubject(projectId: String): String =
    query(baseSubject(Seq(projectId), isObjectGroup = false), includeSubresources = false)

  def collectionSubject(projectId: String, collectionId: String): String =
    query(baseSubject(Seq(projectId, collectionId), isObjectGroup = false), includeSubresources = false)

  def objectSubject(projectId: String, collectionId: String,
                    sharedObjectId: String, objectId: String): String =
    query(baseSubject(Seq(projectId, collectionId, sharedObjectId, objectId),
      isObjectGroup = false), includeSubresources = false)

  def objectGroupSubject(projectId: String, collectionId: String,
                         sharedObjectGroupId: String, objectGroupId: String): String =
    query(baseSubject(Seq(projectId, collectionId, sharedObjectGroupId, objectGroupId),
      isObjectGroup = true), includeSubresources = false)

  // ---- query subjects (utils.rs:56-147) ----
  def projectQuery(projectId: String, includeSub: Boolean): String =
    query(baseSubject(Seq(projectId), isObjectGroup = false), includeSub)

  def collectionQuery(projectId: String, collectionId: String, includeSub: Boolean): String =
    query(baseSubject(Seq(projectId, collectionId), isObjectGroup = false), includeSub)

  def objectQuery(projectId: String, collectionId: String, sharedObjectId: String,
                  objectId: String, includeSub: Boolean): String =
    query(baseSubject(Seq(projectId, collectionId, sharedObjectId, objectId),
      isObjectGroup = false), includeSub)

  def objectGroupQuery(projectId: String, collectionId: String, sharedObjectGroupId: String,
                       objectGroupId: String, includeSub: Boolean): String =
    query(baseSubject(Seq(projectId, collectionId, sharedObjectGroupId, objectGroupId),
      isObjectGroup = true), includeSub)

  /** Build the subscription filter for any resource type + hierarchy,
    * completing the arms the reference left `todo!()` (natsio.rs:171-173).
    *
    * Project/Collection reproduce the reference exactly. For Object and
    * ObjectGroup the reference never defined subscription semantics, and
    * the publish grammar puts the *changed resource's* id at the leaf of
    * the shared-id subject (natsio.rs:104-117: an object event publishes
    * to `…OBJECTGROUP._.<shared_group>._.<object_id>._`) — so a
    * revision-leaf query could never see member events. Therefore with
    * `includeSub=true` we subscribe at the SHARED-id subtree
    * (`…OBJECTGROUP._.<shared_group>.>`), which is the only filter that
    * delivers "everything about this (shared) object/object-group";
    * `includeSub=false` remains the exact leaf subject from the golden
    * grammar (utils.rs:91-147). */
  def queryFor(resourceType: ResourceType, resourceId: String, h: Hierarchy,
               includeSub: Boolean): String = resourceType match {
    case ResourceType.Project    => projectQuery(resourceId, includeSub)
    case ResourceType.Collection => collectionQuery(h.projectId, resourceId, includeSub)
    case ResourceType.Object =>
      if (includeSub)
        query(baseSubject(Seq(h.projectId, h.collectionId, h.sharedObjectId),
          isObjectGroup = false), includeSubresources = true)
      else objectQuery(h.projectId, h.collectionId, h.sharedObjectId, resourceId, includeSub = false)
    case ResourceType.ObjectGroup =>
      if (includeSub)
        query(baseSubject(Seq(h.projectId, h.collectionId, h.sharedObjectGroupId),
          isObjectGroup = true), includeSubresources = true)
      else objectGroupQuery(h.projectId, h.collectionId, h.sharedObjectGroupId, resourceId, includeSub = false)
    case other => throw new IllegalArgumentException(s"no query form for $other")
  }

  // ---------------------------------------------------------------------
  // Matching (the broker-side semantics of NATS subject filters).
  // ---------------------------------------------------------------------

  /** Token-wise NATS subject match: `*` matches exactly one token, a
    * terminal `>` matches one-or-more remaining tokens, anything else is
    * an exact token match. */
  def matches(subject: String, query: String): Boolean = {
    val s = subject.split('.')
    val q = query.split('.')
    var i = 0
    while (i < q.length) {
      if (q(i) == ">") return i < s.length // >= one remaining token
      if (i >= s.length) return false
      if (q(i) != "*" && q(i) != s(i)) return false
      i += 1
    }
    s.length == q.length
  }

  // ---------------------------------------------------------------------
  // Column forms — codegen-friendly, no UDFs.
  // ---------------------------------------------------------------------

  /** base_subject as a Column: ids are Columns; same stage-2 discriminator. */
  def baseSubjectCol(ids: Seq[Column], isObjectGroup: Boolean): Column = {
    val disc = if (isObjectGroup) ObjectGroupName else ObjectName
    val parts: Seq[Column] = ids.zipWithIndex.flatMap { case (c, stage) =>
      if (stage == 2) Seq(lit(disc), c) else Seq(c)
    }
    concat_ws(Sep, (lit(Root) +: parts): _*)
  }

  def exactCol(base: Column): Column = concat(base, lit("._"))

  def projectSubjectCol(projectId: Column): Column =
    exactCol(baseSubjectCol(Seq(projectId), isObjectGroup = false))

  def collectionSubjectCol(projectId: Column, collectionId: Column): Column =
    exactCol(baseSubjectCol(Seq(projectId, collectionId), isObjectGroup = false))

  def objectSubjectCol(p: Column, c: Column, shared: Column, o: Column): Column =
    exactCol(baseSubjectCol(Seq(p, c, shared, o), isObjectGroup = false))

  def objectGroupSubjectCol(p: Column, c: Column, sharedGroup: Column, og: Column): Column =
    exactCol(baseSubjectCol(Seq(p, c, sharedGroup, og), isObjectGroup = true))

  /** Predicate: does `subject` match the (already-built) query string in
    * `queryCol`? Exact queries (`…._`) ⇒ string equality; subtree
    * queries (`….>`) ⇒ prefix match on `base + "."`. Pure Column logic ⇒
    * Catalyst can push it into the scan / use it for partition pruning. */
  def matchesCol(subject: Column, queryCol: Column): Column = {
    val isSubtree = queryCol.endsWith(".>")
    when(isSubtree,
      // strip trailing ">" leaving "base." as the required prefix
      subject.startsWith(substring_index(queryCol, ">", 1)))
      .otherwise(subject === queryCol)
  }

  /** The equi-join form of subject matching — the many-groups scale
    * path. [[matchesCol]] as a JOIN RESIDUAL is O(candidate set) per
    * event row: an equi-join on the project token leaves every
    * same-project subscription as a candidate, so the per-batch match
    * cost grows with registered groups (measured: the G=10k mux write
    * phase, BASELINE.md round-14). The engine grammar only ever emits
    * two matcher shapes (exact `…._`, subtree `base.>` — ids cannot
    * contain `.` `*` `>`, [[requireValidId]]), and BOTH are equality
    * on a derivable key:
    *
    *  - exact matcher ⇔ key = the full subject;
    *  - subtree matcher with a d-token base ⇔ key = first d tokens
    *    + ".>", defined only when the subject has > d tokens.
    *
    * So the event side explodes each subject into (|distinct subtree
    * base depths| + 1) candidate keys — depths come from the DRIVER's
    * subscription snapshot, typically 2–4 distinct values — and the
    * join becomes `candidateKey === filterSubject`: a pure broadcast
    * hash equi-join whose per-row cost is O(depths), independent of G,
    * with output exactly the true matches. Subtree keys end in `.>`,
    * which no real subject can contain, so the two key families can
    * never cross-match.
    *
    * Each d-token prefix is carved with `substring_index` (one linear
    * scan, no allocation) instead of the original regex
    * `split`+`slice`+`array_join` (a per-row token-array build) — this
    * expression runs per (event, subject) row in every mux micro-batch.
    * Equivalence: "subject has > d tokens" ⟺ "the text before the d-th
    * dot is strictly shorter than the subject", and `substring_index(s,
    * ".", d)` IS the first d tokens re-joined by "." (also for empty
    * tokens, where both forms keep the empty string between dots). */
  def matchKeysCol(subject: Column, subtreeDepths: Seq[Int]): Column = {
    val cands: Seq[Column] = subject +: subtreeDepths.map { d =>
      val prefix = substring_index(subject, ".", d)
      when(length(prefix) < length(subject), concat(prefix, lit(".>")))
    }
    array_compact(array(cands: _*))
  }

  /** Driver-side half of [[matchKeysCol]]: the base depth of a subtree
    * matcher (`"a.b.>"` → 2), None for exact matchers. */
  def subtreeDepth(filterSubject: String): Option[Int] =
    if (filterSubject.endsWith(".>")) Some(filterSubject.split('.').length - 1)
    else None

  /** Predicate for a constant query string (the common per-subscription
    * case) — resolves to a plain `startsWith`/`===` Catalyst filter for
    * the grammar the reference emits, and to an anchored `rlike` for
    * general NATS filters containing `*` (single-token wildcard) —
    * the broker feature the reference never exercises but a NATS user
    * could configure (SURVEY.md §2.1 R3). */
  def matchesLit(subject: Column, q: String): Column =
    if (!q.contains("*")) {
      if (q.endsWith(".>")) subject.startsWith(q.dropRight(1)) // keep "base."
      else subject === lit(q)
    } else {
      subject.rlike(wildcardRegex(q))
    }

  /** Event-type gate of a stream group. The reference DECLARES the
    * field on every group (storage_endpoint_mock.rs:32-38) but only
    * ever exercises `All` (public_event_server.rs:127); here the
    * declared capability is implemented: `ALL` admits every event,
    * anything else is an exact match on the event's type. Pure Column
    * logic, so it joins/filters inside codegen next to the subject
    * predicate. */
  def eventTypeMatches(eventType: Column, groupEventType: Column): Column =
    (groupEventType === lit(EventType.All)) || (eventType === groupEventType)

  /** Anchored regex equivalent of a NATS filter: `*` ⇒ one token
    * (`[^.]+`), terminal `>` ⇒ one-or-more tokens (`.+`), literal
    * tokens quoted. Mirrors [[matches]] token semantics exactly. */
  def wildcardRegex(q: String): String = {
    val tokens = q.split('.')
    val body = tokens.zipWithIndex.map {
      case (">", i) if i == tokens.length - 1 => ".+"
      case ("*", _) => "[^.]+"
      case (t, _) => java.util.regex.Pattern.quote(t)
    }.mkString("\\.")
    s"^$body$$"
  }
}
