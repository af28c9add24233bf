package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.GraphOps
import graft.store.{Entity, GraphStore, Relation}

/** Synthetic vocabulary: distinct consonant-vowel words over an alphabet
  * without `q`, `x`, `y`, `z`, so that a term containing `z` matches
  * nothing and a client tag made with `qq` matches only that client's data.
  */
final class Lexicon(seed: Long, size: Int) {
  val words: Array[String] = {
    val rng = new SplittableRandom(seed)
    val cons = "bcdfghklmnprstvw"
    val vows = "aeiou"
    def syl() = s"${cons.charAt(rng.nextInt(cons.length))}${vows.charAt(rng.nextInt(vows.length))}"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) seen += Seq.fill(2 + rng.nextInt(2))(syl()).mkString
    seen.toArray
  }
  private val zipf = new Zipf(size, 1.0)
  def word(rng: SplittableRandom): String = words(zipf.sample(rng))
  def sentence(rng: SplittableRandom, n: Int): String = Seq.fill(n)(word(rng)).mkString(" ")
}

/** Driver-side model entity; `seq` orders creation (larger = newer). */
final case class Ent(name: String, tpe: String, obs: Vector[String], seq: Long) {
  def entity: Entity = Entity(name, tpe, obs)
  def bytes: Long = name.length + tpe.length + obs.map(_.length.toLong).sum
}

/** The store's expected content, maintained beside it. Answers every read
  * tool the way the reference defines it: search relevance 3/2/1 for a
  * name/type/observation hit, then newest first, then name; observations
  * in codepoint order; edges touching any returned entity, sorted.
  */
final class Model {
  val ents = mutable.HashMap.empty[String, Ent]
  val rels = mutable.ArrayBuffer.empty[Relation]

  private def relevance(e: Ent, term: String): Int =
    if (e.name.contains(term)) 3
    else if (e.tpe.contains(term)) 2
    else if (e.obs.exists(_.contains(term))) 1
    else 0

  def search(term: String, k: Int = 10): (Seq[Entity], Seq[Relation]) = result(
    ents.valuesIterator.map(e => (relevance(e, term), e)).filter(_._1 > 0).toSeq
      .sortBy { case (r, e) => (-r, -e.seq, e.name) }.take(k).map(_._2))

  def recent(k: Int = 10): (Seq[Entity], Seq[Relation]) =
    result(ents.values.toSeq.sortBy(e => (-e.seq, e.name)).take(k))

  private def result(hits: Seq[Ent]): (Seq[Entity], Seq[Relation]) = {
    val names = hits.map(_.name).toSet
    (hits.map(_.entity), rels.filter(r => names(r.from) || names(r.to))
      .sortBy(r => (r.from, r.to, r.relationType)).toSeq)
  }

  /** createEntities semantics: an existing name keeps its creation order. */
  def upsert(batch: Seq[Entity], seq: Long): Unit = batch.foreach { e =>
    val s = ents.get(e.name).map(_.seq).getOrElse(seq)
    ents(e.name) = Ent(e.name, e.entityType, e.observations.sorted.toVector, s)
  }

  def deleteEntity(name: String): Unit = {
    ents.remove(name)
    rels.filterInPlace(r => r.from != name && r.to != name)
  }

  def deleteRelation(r: Relation): Unit = rels.filterInPlace(_ != r)

  def userBytes: Long = ents.valuesIterator.map(_.bytes).sum +
    rels.iterator.map(r => (r.from.length + r.to.length + r.relationType.length).toLong).sum
}

/** `agent_read` and `agent_write`: closed loops of MCP tool calls, one
  * thread per core, against a store seeded from the workload seed.
  */
object Agent {
  /** One dealt call: the tool and, for writes, its batch size and whether
    * it upserts hot existing names instead of creating new ones.
    */
  final case class Card(op: String, size: Int = 0, hot: Boolean = false)

  sealed abstract class Mix(val name: String, val deck: Seq[Card])
  // All clients deal their calls from one reshuffled deck, and a run deals
  // whole decks only, so every run makes the same multiset of calls per
  // deck whatever the seed or the speed: with calls costing from 0.2 s to
  // several seconds, a drifting mix or batch size would move every figure
  // more than most changes under test do.
  case object ReadMix extends Mix("agent_read",
    Seq.fill(12)(Card("search_nodes")) ++ Seq.fill(5)(Card("get_entity")) ++
      Seq.fill(3)(Card("read_graph")))
  case object WriteMix extends Mix("agent_write",
    Seq(1, 9, 17, 25, 34, 42, 50).zipWithIndex.map { case (k, i) =>
      Card("create_entities", k, hot = i % 2 == 0)
    } ++ Seq(1, 34, 67, 100).map(Card("create_relations", _)) ++
      Seq.fill(2)(Card("delete_entity")) ++ Seq(Card("delete_relation")) ++
      Seq.fill(4)(Card("get_entity")) ++ Seq.fill(2)(Card("search_nodes")) ++
      Seq(Card(Maintain)))

  /** The maintenance card: compact one table (rotating per deck), then
    * vacuum. Every deck of the write mix holds one, so maintenance keeps
    * the same ratio to the writes in every run.
    */
  val Maintain = "maintain"

  val Entities = 4000
  val RelationCalls = 1
  val VocabSize = 4000
  val Setups = 3
  val WarmupCalls = 1
  /** Decks a run deals at the least, however long they take: with one deck
    * taking about as long as the window, a run would otherwise deal one
    * deck or two depending on the host's speed at that moment.
    */
  val MinDecks = 2
  /** Snapshots vacuum keeps: comfortably more commits than can land while
    * one read call holds a resolved snapshot, so no reader loses its files.
    */
  val KeepVersions = 8

  val Types = Vector("person", "project", "service", "document", "meeting", "product",
    "location", "event", "team", "tool", "concept", "device")
  val RelTypes = Vector("knows", "uses", "part_of", "depends_on", "mentions")
  val Writes = Set("create_entities", "create_relations", "delete_entity", "delete_relation")
  val Tables = Seq("entities", "observations", "relations", "relations_rev")

  def tag(client: Int): String = s"qq${client}vv"

  final case class Seeded(ents: Vector[Ent], owned: Vector[Vector[String]],
      relBatches: Vector[Seq[Relation]]) {
    def model(): Model = {
      val m = new Model
      ents.foreach(e => m.ents(e.name) = e)
      relBatches.foreach(m.rels ++= _)
      m
    }
  }

  def observations(rng: SplittableRandom, lex: Lexicon, client: Int): Vector[String] =
    Vector.tabulate(1 + rng.nextInt(5)) { j =>
      val s = lex.sentence(rng, 6 + rng.nextInt(7))
      if (j == 0 && rng.nextInt(3) == 0) s"$s ${tag(client)}" else s
    }.sorted

  /** Entities are owned round-robin by client; every seeded relation joins
    * two entities of one owner, so a client that writes only its own
    * entities never changes what another client reads.
    */
  def generate(seed: Long, lex: Lexicon, clients: Int): Seeded = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val ents = Vector.tabulate(Entities) { i =>
      Ent(s"${lex.word(rng)}-$i", Types(rng.nextInt(Types.size)),
        observations(rng, lex, i % clients), 0L)
    }
    val owned = Vector.tabulate(clients)(c => ents.indices.filter(_ % clients == c).map(ents(_).name).toVector)
    val zipfs = owned.map(o => new Zipf(o.size, 0.8))
    val relBatches = Vector.fill(RelationCalls)(Seq.tabulate(100) { j =>
      val own = owned(j % clients)
      Relation(own(zipfs(j % clients).sample(rng)), own(rng.nextInt(own.size)),
        RelTypes(rng.nextInt(RelTypes.size)))
    })
    Seeded(ents, owned, relBatches)
  }

  private val EntitySchema = StructType(Seq(
    StructField("name", StringType), StructField("entity_type", StringType),
    StructField("observations", ArrayType(StringType))))

  /** The timed part of set-up: bulk load, seeded relations, warm-up. */
  def load(spark: SparkSession, root: File, s: Seeded, lex: Lexicon): GraphStore = {
    val store = new GraphStore(spark, root.getAbsolutePath, numBuckets = 4)
    store.initialize()
    val rows = s.ents.map(e => Row(e.name, e.tpe, e.obs))
    store.upsertEntitiesDf(spark.createDataFrame(rows.asJava, EntitySchema))
    s.relBatches.foreach(store.createRelations)
    store.searchNodes(lex.words(0))
    store.getEntity(s.ents(0).name)
    store.readGraph()
    store
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  def run(ctx: Ctx, mix: Mix): Outcome = {
    val spark = ctx.spark
    val clients = ctx.cores
    val lex = new Lexicon(ctx.opts.seed, VocabSize)
    val seeded = generate(ctx.opts.seed, lex, clients)
    val loads = (1 to Setups).map { i =>
      val root = new File(ctx.dir("stores"), s"store-$i")
      val t0 = System.nanoTime()
      val st = load(spark, root, seeded, lex)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < Setups) rmTree(root)
      (s, st, root)
    }
    val (_, store, root) = loads.last
    val setupS = ctx.sessionS + Stats.median(loads.map(_._1))

    val shared = new State(ctx, mix, store, seeded, lex)
    val loop = new Loop(ctx, shared, clients)
    loop.runAll()
    val gc = gcMs() - loop.gc0

    val logs = loop.logs
    val lat = logs.flatMap(_.lat.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2) }
    val all = lat.values.flatten.toSeq
    val writes = lat.filter(kv => Writes(kv._1)).values.flatten.toSeq
    val attempted = logs.map(_.attempted).sum
    val failed = logs.map(_.failed).sum
    val failures = logs.flatMap(_.failures)
    val cpuPerCall = loop.cpuMs / math.max(1L, logs.map(_.measured).sum)
    // per client, calls over the time to its last completion: no partial
    // call is cut off at the deadline
    val opsPerS = logs.filter(_.measured > 0).map(l => l.measured / loop.elapsedS(l)).sum
    // footprint of the live version alone: how much retention the run
    // left behind depends on when maintenance happened to fall, and is
    // reported by the traced run (store.versions, store.live_bytes)
    store.vacuum(1)
    val spaceAmp = Stats.treeBytes(root).toDouble / shared.userBytes
    val rss = Stats.rssPeakMb()
    def p(tool: String, q: Double) = Stats.pctOr0(lat.getOrElse(tool, Nil), q)
    val callP50 = Stats.pctOr0(all, 50)
    val callP90 = Stats.pctOr0(all, 90)

    val table = Seq(
      Metric("setup_s", "s", setupS),
      Metric("call_p50_ms", "ms", callP50),
      Metric("call_p90_ms", "ms", callP90),
      Metric("search_nodes_p50_ms", "ms", p("search_nodes", 50)),
      Metric("search_nodes_p90_ms", "ms", p("search_nodes", 90)),
      Metric("get_entity_p50_ms", "ms", p("get_entity", 50)),
      Metric("read_graph_p50_ms", "ms", p("read_graph", 50)),
      Metric("create_entities_p50_ms", "ms", p("create_entities", 50)),
      Metric("create_relations_p50_ms", "ms", p("create_relations", 50)),
      Metric("delete_entity_p50_ms", "ms", p("delete_entity", 50)),
      Metric("write_p90_ms", "ms", Stats.pctOr0(writes, 90)),
      Metric("ops_per_s", "calls/s", opsPerS),
      Metric("cpu_ms_per_call", "ms", cpuPerCall),
      Metric("ops_failed_frac", "ratio", failed.toDouble / math.max(1L, attempted)),
      Metric("store_space_amp", "ratio", spaceAmp),
      Metric("rss_peak_mb", "MB", rss)) ++
      lat.toSeq.sortBy(_._1).map { case (k, v) => Metric(s"${k}_calls", "count", v.size.toDouble) }

    val metrics =
      if (!ctx.opts.trace) Seq(
        Metric("setup_s", "s", setupS),
        Metric("work_per_s", "1/s", opsPerS),
        Metric("cpu_ms_per_call", "ms", cpuPerCall),
        Metric("space_amp", "ratio", spaceAmp))
      else {
        val td = ctx.tracer.data
        val calls = td.roots(_.startsWith("store."))
        def spanMean(n: String) = Stats.mean(td.spans.filter(_.name == n).map(_.ms))
        val searchCalls = td.roots(_ == "store.search_nodes")
        val hits = logs.map(_.searchHits).sum
        Layers.metrics(Map(
          "spark.jobs_per_call" -> td.perCall(calls)(_.jobs.toDouble),
          "spark.stages_per_call" -> td.perCall(calls)(_.stages.toDouble),
          "spark.tasks_per_call" -> td.perCall(calls)(_.tasks.toDouble),
          "spark.driver_gap_ms_per_call" -> Stats.mean(calls.map(td.driverGapMs)),
          "spark.task_busy_ms_per_call" -> td.perCall(calls)(_.runMs.toDouble),
          "spark.gc_ms" -> gc,
          "spark.files_read_per_call" -> td.perCall(calls)(_.filesRead.toDouble),
          "spark.bytes_read_per_call" -> td.perCall(calls)(_.bytesRead.toDouble),
          "spark.shuffle_bytes" -> calls.map(td.counts(_).shuffleBytes.toDouble).sum,
          "store.resolve_ms" -> spanMean("store.resolve"),
          "store.bytes_written_per_user_byte" ->
            shared.sampler.newBytes.toDouble / math.max(1L, logs.map(_.payloadBytes).sum),
          "store.live_buckets" -> shared.sampler.liveBuckets,
          "store.live_bytes" -> shared.sampler.liveBytes,
          "store.versions" -> shared.sampler.versions,
          "store.maintenance_ms" -> spanMean("maintenance"),
          "store.maintenance_bytes_rewritten" -> Stats.mean(logs.flatMap(_.rewritten)),
          "store.writes_in_flight_at_start" -> Stats.mean(logs.flatMap(_.inFlightAtStart)),
          "store.search_nodes_p50_ms" -> p("search_nodes", 50),
          "store.search_nodes_p90_ms" -> p("search_nodes", 90),
          "store.get_entity_p50_ms" -> p("get_entity", 50),
          "store.read_graph_p50_ms" -> p("read_graph", 50),
          "store.create_entities_p50_ms" -> p("create_entities", 50),
          "store.create_relations_p50_ms" -> p("create_relations", 50),
          "store.delete_entity_p50_ms" -> p("delete_entity", 50),
          "store.write_p90_ms" -> Stats.pctOr0(writes, 90),
          "ops.search_entities_ms" -> spanMean("ops.search_entities"),
          "ops.relations_for_entities_ms" -> spanMean("ops.relations_for_entities"),
          "ops.recent_entities_ms" -> spanMean("ops.recent_entities"),
          "ops.hydrate_ms" -> spanMean("ops.hydrate"),
          "ops.rows_scanned_per_hit" ->
            searchCalls.map(td.counts(_).recordsRead.toDouble).sum / math.max(1L, hits),
          "trace.call_p50_ms" -> callP50,
          "trace.listener_ms" -> td.listenerMs,
          "trace.spans" -> td.spans.size.toDouble))
      }
    Outcome(attempted, failed, failures.toSeq, metrics, table)
  }

  /** Total JVM garbage-collection time so far (local mode: executors are
    * this JVM).
    */
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** State the clients share: the store, the read model (read mix) or the
    * per-client models (write mix), and the write counters.
    */
  final class State(val ctx: Ctx, val mix: Mix, val store: GraphStore,
      val seeded: Seeded, val lex: Lexicon) {
    val clients: Int = ctx.cores
    // read mix: one model no one writes; write mix: one model per client,
    // each holding only that client's entities and relations
    val models: Vector[Model] = mix match {
      case ReadMix => Vector.fill(1)(seeded.model())
      case WriteMix => Vector.tabulate(clients) { c =>
        val all = seeded.model()
        val m = new Model
        seeded.owned(c).foreach(n => m.ents(n) = all.ents(n))
        m.rels ++= all.rels.filter(r => m.ents.contains(r.from))
        m
      }
    }
    def model(client: Int): Model = if (models.size == 1) models(0) else models(client)
    def userBytes: Long = models.map(_.userBytes).sum
    val writesInFlight = new AtomicInteger(0)
    val sampler = new Sampler(store, new File(store.root))
  }

  /** Per-client record of calls. */
  final class CallLog {
    val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0L
    var failed = 0L
    var measured = 0L
    var lastEndNs = 0L
    var searchHits = 0L
    var payloadBytes = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val inFlightAtStart = mutable.ArrayBuffer.empty[Double]
    val rewritten = mutable.ArrayBuffer.empty[Double]
  }

  /** Runs `clients` closed-loop threads: untimed warm-up calls, a barrier,
    * then calls from decks opened before the deadline, at least
    * [[MinDecks]] of them. Calls are timed around the store call
    * only; checks and traced-run probes run outside the timer.
    */
  final class Loop(ctx: Ctx, st: State, clients: Int) {
    val logs: Vector[CallLog] = Vector.fill(clients)(new CallLog)
    @volatile private var t0Ns = 0L
    @volatile var gc0 = 0.0
    @volatile private var cpu0 = 0.0
    /** Process CPU from the barrier until every client has finished. */
    var cpuMs = 0.0
    private val barrier = new CyclicBarrier(clients, () => {
      t0Ns = System.nanoTime()
      gc0 = gcMs()
      cpu0 = Stats.processCpuMs()
      if (ctx.opts.trace && st.mix == WriteMix) st.sampler.start()
    })

    def elapsedS(log: CallLog): Double = (log.lastEndNs - t0Ns) / 1e9

    private val warmup = new Dealer(st.mix.deck.filterNot(_.op == Maintain),
      new SplittableRandom(ctx.opts.seed * 104729L))
    private val dealer = new Dealer(st.mix.deck, new SplittableRandom(ctx.opts.seed * 7919L))

    def runAll(): Unit = {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => try client(c) catch { case e: Throwable => errors.add(e) },
          s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      cpuMs = Stats.processCpuMs() - cpu0
      if (ctx.opts.trace && st.mix == WriteMix) st.sampler.stop()
      if (!errors.isEmpty) throw errors.peek()
    }

    private def client(c: Int): Unit = {
      val log = logs(c)
      val ops = new Ops(ctx, st, c, log, new SplittableRandom(ctx.opts.seed * 1000003L + c))
      (1 to WarmupCalls).foreach(_ => warmup.next(open = true).foreach(d => ops.step(d._1, record = false)))
      barrier.await()
      val deadline = t0Ns + ctx.opts.seconds * 1000000000L
      var dealt = dealer.next(open = System.nanoTime() < deadline)
      while (dealt.isDefined) {
        val (card, deck) = dealt.get
        if (card.op == Maintain) ops.maintain(Tables(deck % Tables.size))
        else ops.step(card, record = true)
        log.lastEndNs = System.nanoTime()
        dealt = dealer.next(open = System.nanoTime() < deadline)
      }
    }
  }

  /** Deals cards from reshuffled copies of `deck`. A new deck is opened only
    * while `open` or fewer than [[MinDecks]] were opened; the deck in hand is
    * always dealt out, so the calls of a run are whole decks.
    */
  final class Dealer(deck: Seq[Card], rng: SplittableRandom) {
    private var hand = List.empty[Card]
    private var decks = 0

    /** The next card and the number of the deck it came from. */
    def next(open: Boolean): Option[(Card, Int)] = synchronized {
      if (hand.isEmpty && (open || decks < MinDecks)) {
        hand = shuffle(deck, rng)
        decks += 1
      }
      hand match {
        case card :: rest =>
          hand = rest
          Some((card, decks - 1))
        case Nil => None
      }
    }
  }

  def shuffle[T](xs: Seq[T], rng: SplittableRandom): List[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList.asInstanceOf[List[T]]
  }

  /** One client's tool calls and their output checks. */
  final class Ops(ctx: Ctx, st: State, c: Int, log: CallLog, rng: SplittableRandom) {
    private val store = st.store
    private val tracer = ctx.tracer
    private val m = st.model(c)
    private val lex = st.lex
    private val hot: Vector[String] = st.mix match {
      case ReadMix => st.seeded.ents.map(_.name)
      case WriteMix => st.seeded.owned(c)
    }
    private val hotZipf = new Zipf(hot.size, 1.0)
    private val created = mutable.ArrayBuffer.empty[String]
    private var nextSeq = 0L
    private var newNames = 0L
    private var recording = false

    def step(card: Card, record: Boolean): Unit = {
      val op = card.op
      recording = record
      log.attempted += 1
      if (record) log.measured += 1
      try op match {
        case "search_nodes" => searchNodes()
        case "get_entity" => getEntity()
        case "read_graph" => readGraph()
        case "create_entities" => createEntities(card.size, card.hot)
        case "create_relations" => createRelations(card.size)
        case "delete_entity" => deleteEntity()
        case "delete_relation" => deleteRelation()
      } catch {
        case e: Exception => fail(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    private def fail(msg: String): Unit = {
      log.failed += 1
      if (log.failures.size < 5) log.failures += s"client $c: $msg"
    }

    private def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

    /** Time one store call; a call that throws still took its time. */
    private def call[T](tool: String)(body: => T): T = {
      val write = Writes(tool)
      if (write && recording) log.inFlightAtStart += st.writesInFlight.get.toDouble
      if (write) st.writesInFlight.incrementAndGet()
      val t0 = System.nanoTime()
      try tracer.request(s"store.$tool")(body)
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        if (write) st.writesInFlight.decrementAndGet()
        if (recording) log.lat.getOrElseUpdate(tool, mutable.ArrayBuffer.empty) += ms
      }
    }

    private def pickHot(): String = hot(hotZipf.sample(rng))

    /** A name this client may read or delete: a hot seeded one, or one it
      * created during the run.
      */
    private def pickName(): String =
      if (created.nonEmpty && rng.nextBoolean()) created(rng.nextInt(created.size)) else pickHot()

    private def queryTerm(): String = {
      val u = rng.nextDouble()
      if (u < 0.05) "z" + lex.word(rng) // matches nothing
      else if (u < 0.13) Types(rng.nextInt(Types.size))
      else lex.word(rng)
    }

    private def searchNodes(): Unit = {
      val term = if (st.mix == ReadMix) queryTerm() else tag(c)
      val got = call("search_nodes")(store.searchNodes(term))
      log.searchHits += got._1.size
      val want = m.search(term)
      check(got == want, s"search_nodes($term) returned ${got._1.map(_.name)} expected ${want._1.map(_.name)}")
      if (tracer.enabled) probe("probe.search_nodes",
        (e, o) => GraphOps.searchEntities(e, o, term, 10))
    }

    private def readGraph(): Unit = {
      val got = call("read_graph")(store.readGraph())
      val want = m.recent()
      check(got == want, s"read_graph returned ${got._1.map(_.name)} expected ${want._1.map(_.name)}")
      if (tracer.enabled) probe("probe.read_graph", (e, _) => GraphOps.recentEntities(e, 10))
    }

    /** Traced runs only: the read tool decomposed into the operator calls
      * it is built from, each timed in its own span. A separate request,
      * so its Spark work is not counted against the tool call.
      */
    private def probe(name: String, hitsOf: (DataFrame, DataFrame) => DataFrame): Unit =
      tracer.request(name) {
        val (e, o, r) = tracer.span("store.resolve")((store.entities, store.observations, store.relations))
        val hits = tracer.span(if (name == "probe.read_graph") "ops.recent_entities" else "ops.search_entities") {
          hitsOf(e, o).select("name", "entity_type").collect()
        }
        val hitDf = ctx.spark.createDataFrame(hits.toSeq.asJava,
          StructType(Seq(StructField("name", StringType), StructField("entity_type", StringType))))
        tracer.span("ops.hydrate")(GraphOps.hydrate(hitDf, o).collect())
        tracer.span("ops.relations_for_entities")(GraphOps.relationsForEntities(r, hitDf).collect())
      }

    private def getEntity(): Unit = {
      val name = pickName()
      val want = m.ents.get(name).map(_.entity)
      val got =
        try Some(call("get_entity")(store.getEntity(name)))
        catch { case _: NoSuchElementException => None } // correct iff deleted
      check(got == want, s"get_entity($name) returned $got expected $want")
    }

    private def entity(name: String): Entity =
      Entity(name, Types(rng.nextInt(Types.size)), observations(rng, lex, c))

    private def createEntities(k: Int, hotNames: Boolean): Unit = {
      val names =
        if (hotNames) Iterator.continually(pickHot()).take(4 * k).distinct.take(k).toVector
        else Vector.fill(k) { newNames += 1; s"${lex.word(rng)}-c${c}n$newNames" }
      val batch = names.map(entity)
      call("create_entities")(store.createEntities(batch))
      nextSeq += 1
      names.filterNot(m.ents.contains).foreach(created += _)
      m.upsert(batch, nextSeq)
      log.payloadBytes += batch.map(e => Ent(e.name, e.entityType, e.observations.toVector, 0).bytes).sum
    }

    private def live(): Vector[String] = m.ents.keysIterator.toVector

    private def createRelations(k: Int): Unit = {
      val names = live()
      if (names.isEmpty) return getEntity()
      val batch = Seq.fill(k) {
        val from = m.ents.get(pickHot()).map(_.name).getOrElse(names(rng.nextInt(names.size)))
        Relation(from, names(rng.nextInt(names.size)), RelTypes(rng.nextInt(RelTypes.size)))
      }
      call("create_relations")(store.createRelations(batch))
      m.rels ++= batch
      log.payloadBytes += batch.map(r => r.from.length + r.to.length + r.relationType.length).sum
    }

    private def deleteEntity(): Unit =
      Iterator.continually(pickName()).take(8).find(m.ents.contains) match {
        case None => getEntity()
        case Some(name) =>
          call("delete_entity")(store.deleteEntity(name))
          m.deleteEntity(name)
          log.payloadBytes += name.length
      }

    private def deleteRelation(): Unit =
      if (m.rels.isEmpty) getEntity()
      else {
        val r = m.rels(rng.nextInt(m.rels.size))
        call("delete_relation")(store.deleteRelation(r.from, r.to, r.relationType))
        m.deleteRelation(r)
        log.payloadBytes += r.from.length + r.to.length + r.relationType.length
      }

    /** Compact `table`, then vacuum: the store's maintenance. */
    def maintain(table: String): Unit = {
      log.attempted += 1
      try tracer.request("maintenance") {
        store.compact(table)
        store.vacuum(KeepVersions)
      } catch {
        case e: Exception => fail(s"maintenance($table) threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (tracer.enabled) log.rewritten += store.bucketBytes(table).values.sum.toDouble
    }
  }

  /** Traced write runs: samples the store's layout every 250 ms and tracks
    * every file that appears under the root, so bytes written can be set
    * against the payload the clients sent.
    */
  final class Sampler(store: GraphStore, root: File) {
    @volatile var liveBuckets = 0.0
    @volatile var liveBytes = 0.0
    @volatile var versions = 0.0
    @volatile var newBytes = 0L
    private val seen = mutable.HashMap.empty[String, Long]
    @volatile private var running = false
    private var thread: Thread = _

    private def walk(f: File, found: mutable.HashMap[String, Long]): Unit =
      Option(f.listFiles()).getOrElse(Array.empty).foreach { x =>
        if (x.isDirectory) walk(x, found) else found(x.getPath) = x.length()
      }

    private def sample(): Unit = {
      val found = mutable.HashMap.empty[String, Long]
      walk(root, found)
      found.foreach { case (p, n) => if (!seen.contains(p)) { seen(p) = n; newBytes += n } }
      liveBuckets = Tables.map(store.liveBuckets(_).size).sum.toDouble
      liveBytes = Tables.map(store.bucketBytes(_).values.sum).sum.toDouble
      versions = store.storeVersions.size.toDouble
    }

    def start(): Unit = {
      walk(root, seen)
      running = true
      thread = new Thread(() => while (running) {
        try sample() catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
        Thread.sleep(250)
      }, "perfbench-sampler")
      thread.start()
    }

    def stop(): Unit = {
      running = false
      thread.join()
      sample()
    }
  }
}
