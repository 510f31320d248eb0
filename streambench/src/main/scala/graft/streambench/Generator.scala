package graft.streambench

import java.security.MessageDigest

/** Traffic dimensions of one workload. Everything the generator does is a
  * function of these and the seed, so a workload is reproducible from its
  * record alone.
  *
  * The catalog is a three-level hierarchy: `roots` collections, each with
  * `fanout` datasets, each with `leaves` fields (the type registry's
  * collection → dataset → field parent mapping).
  *
  * @param preseed    the catalog is created during set-up (trickle
  *                   workloads) instead of as the head of the stream
  * @param events     measured events generated (the run stops earlier when
  *                   its window ends)
  * @param target     "any" (every entity, mostly leaves), "leaf" or
  *                   "inner" (roots and datasets)
  * @param renameShare / reparentShare / editShare
  *                   update mix; the rest of 1.0 is Atlas-propagated
  *                   (indirect) audits, and so is a re-parent drawn for a
  *                   root when `editShare` is 0
  * @param malformedEvery one update slot in this many carries an event
  *                   that is malformed or violates the version contract
  * @param ratePerS   offered rate of an open loop; 0 = closed loop
  * @param batchEvents events per closed-loop microbatch */
final case class Dims(
    roots: Int, fanout: Int, leaves: Int,
    preseed: Boolean, events: Int, target: String,
    renameShare: Double, reparentShare: Double, editShare: Double,
    malformedEvery: Int,
    ratePerS: Double, batchEvents: Int) {
  def entities: Int = roots + roots * fanout + roots * fanout * leaves
  def openLoop: Boolean = ratePerS > 0

  def json: String =
    s"""{"roots":$roots,"fanout":$fanout,"leaves":$leaves,"depth":3,""" +
      s""""entities":$entities,"preseed":$preseed,"events":$events,""" +
      s""""target":"$target","rename_share":$renameShare,""" +
      s""""reparent_share":$reparentShare,"edit_share":$editShare,""" +
      s""""indirect_share":${BigDecimal(1) - renameShare - reparentShare - editShare},""" +
      s""""malformed_every":$malformedEvery,"rate_per_s":$ratePerS,""" +
      s""""batch_events":$batchEvents}"""
}

/** One generated envelope. `dlq` names the (job, description) dead letter
  * the chain must route it to; None for a valid event. */
final case class Event(json: String, dlq: Option[(String, String)])

/** A generated workload: `setup` is fed before the measured window (the
  * pre-seeded catalog), `measured` during it. */
final case class Stream(setup: Vector[Event], measured: Vector[Event]) {
  def all: Vector[Event] = setup ++ measured

  /** SHA-256 over every envelope in order — equal streams, equal digest. */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    all.foreach { e =>
      md.update(e.json.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Seeded generator of Atlas audit envelopes in the `enrichedSchema` shape.
  * Single-threaded and pure: the same (dims, seed) gives a byte-identical
  * stream. updateTime is a global event clock, so it strictly increases
  * per guid. */
object Generator {

  private val typeOf = Vector("m4i_collection", "m4i_dataset", "m4i_field")

  /** Malformed and contract-violating shapes, used round-robin; each names
    * the dead letter fullChain must produce for it. */
  private val badKinds: Vector[(String, (String, String))] = Vector(
    "garbage" -> ("pipeline", "missing kafka_notification or atlas_entity"),
    "no_guid" -> ("publish_state", "missing entity guid"),
    "no_time" -> ("publish_state", "missing updateTime"),
    "bad_op" -> ("determine_change", "unknown operationType"),
    "no_qn" -> ("synchronize_elastic", "create without qualifiedName"))

  private final case class Entity(guid: String, level: Int,
      var parent: Option[Int], var name: String, var definition: String,
      var version: Int)

  def generate(d: Dims, seed: Long): Stream = {
    val rnd = new java.util.SplittableRandom(seed)
    var clock = 1000000L
    var bad = 0
    val ents = scala.collection.mutable.ArrayBuffer[Entity]()
    for (r <- 0 until d.roots)
      ents += Entity(s"c$r", 0, None, s"Collection $r", "", 0)
    for (r <- 0 until d.roots; f <- 0 until d.fanout)
      ents += Entity(s"d$r-$f", 1, Some(r), s"Dataset $r-$f", "", 0)
    for (r <- 0 until d.roots; f <- 0 until d.fanout; l <- 0 until d.leaves)
      ents += Entity(s"f$r-$f-$l", 2, Some(d.roots + r * d.fanout + f),
        s"Field $r-$f-$l", "", 0)
    val datasets = d.roots until d.roots + d.roots * d.fanout
    val leafIdx = d.roots + d.roots * d.fanout until ents.size

    def rel(e: Entity): String = e.parent match {
      case None => "{}"
      case Some(p) =>
        s"""{"parent":[{"guid":"${ents(p).guid}","typeName":"${typeOf(ents(p).level)}","entityStatus":"ACTIVE"}]}"""
    }
    def envelope(e: Entity, op: String, direct: Boolean): String = {
      clock += 1
      val attrs = s""""qualifiedName":"qn/${e.guid}","name":"${e.name}"""" +
        (if (e.definition.nonEmpty) s""","definition":"${e.definition}"""" else "")
      val rels = if (direct) s""","relationshipAttributes":${rel(e)}""" else ""
      s"""{"kafkaNotification":{"eventTime":$clock,"operationType":"$op","guid":"${e.guid}"},""" +
        s""""atlasEntity":{"guid":"${e.guid}","typeName":"${typeOf(e.level)}",""" +
        s""""attributes":{$attrs}$rels,"createTime":1,"updateTime":$clock}}"""
    }
    def malformed(): Event = {
      val (kind, dl) = badKinds(bad % badKinds.size)
      bad += 1
      clock += 1
      val g = s"bad$bad"
      val json = kind match {
        case "garbage" => s"""{"truncated audit $bad"""
        case "no_guid" =>
          s"""{"kafkaNotification":{"eventTime":$clock,"operationType":"ENTITY_UPDATE","guid":"$g"},""" +
            s""""atlasEntity":{"typeName":"m4i_field","attributes":{"name":"x"},"relationshipAttributes":{},"createTime":1,"updateTime":$clock}}"""
        case "no_time" =>
          s"""{"kafkaNotification":{"eventTime":$clock,"operationType":"ENTITY_UPDATE","guid":"$g"},""" +
            s""""atlasEntity":{"guid":"$g","typeName":"m4i_field","attributes":{"name":"x"},"relationshipAttributes":{},"createTime":1}}"""
        case "bad_op" =>
          s"""{"kafkaNotification":{"eventTime":$clock,"operationType":"ENTITY_AUDIT","guid":"$g"},""" +
            s""""atlasEntity":{"guid":"$g","typeName":"m4i_field","attributes":{"qualifiedName":"qn/$g"},"relationshipAttributes":{},"createTime":1,"updateTime":$clock}}"""
        case _ =>
          s"""{"kafkaNotification":{"eventTime":$clock,"operationType":"ENTITY_CREATE","guid":"$g"},""" +
            s""""atlasEntity":{"guid":"$g","typeName":"m4i_field","attributes":{"name":"x"},"relationshipAttributes":{},"createTime":1,"updateTime":$clock}}"""
      }
      Event(json, Some(dl))
    }

    // the catalog is created whole and in hierarchy order (parents first)
    val catalog = ents.toVector.map(e =>
      Event(envelope(e, "ENTITY_CREATE", direct = true), None))

    def pick(): Int = d.target match {
      case "leaf" => leafIdx(rnd.nextInt(leafIdx.size))
      case "inner" => rnd.nextInt(d.roots + d.roots * d.fanout)
      case _ => rnd.nextInt(ents.size)
    }
    def update(): Event = {
      val i = pick()
      val e = ents(i)
      e.version += 1
      val u = rnd.nextDouble()
      val reparentable = e.level > 0
      if (u < d.renameShare) {
        e.name = s"${e.name.takeWhile(_ != '~')}~${e.version}"
        Event(envelope(e, "ENTITY_UPDATE", direct = true), None)
      } else if (u < d.renameShare + d.reparentShare && reparentable) {
        // move to another parent of the same tier
        val pool = if (e.level == 1) 0 until d.roots else datasets
        val cur = e.parent.get
        var p = pool(rnd.nextInt(pool.size))
        if (p == cur) p = pool((pool.indexOf(p) + 1) % pool.size)
        e.parent = Some(p)
        Event(envelope(e, "ENTITY_UPDATE", direct = true), None)
      } else if (u < d.renameShare + d.reparentShare + d.editShare) {
        // attribute edit; relationships re-sent unchanged
        e.definition = s"rev ${e.version} of ${e.guid}"
        Event(envelope(e, "ENTITY_UPDATE", direct = true), None)
      } else {
        // Atlas-propagated audit: no relationship payload, not applied
        e.definition = s"propagated ${e.version}"
        Event(envelope(e, "ENTITY_UPDATE", direct = false), None)
      }
    }
    // every malformedEvery-th update slot carries a malformed event instead
    val updates = Vector.tabulate(d.events)(i =>
      if ((i + 1) % d.malformedEvery == 0) malformed() else update())
    if (d.preseed) Stream(catalog, updates) else Stream(Vector.empty, catalog ++ updates)
  }
}
