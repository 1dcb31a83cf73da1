package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.graph.IndexKey
import graft.graph.GraphQueries.{CustomerV, GeoModel, GeoRoot, GeoV, NationV, RegionV}
import graft.store.{GraphReplica, GraphStore, Wire}

/** `graph_serve`: the store's online path over `Wire.serve(replica, store)`.
  *
  * Set-up builds a geo graph (root → 5 regions → 25 nations → customers
  * with seeded nations), commits, closes and reopens the store, and
  * bootstraps a replica on it. Four closed-loop wire clients with zero
  * think time then run a seeded mix: 70% getValues of 16 uniform customer
  * ids, 15% getTargets(nation, Nation_Customer), 15% write txns (a new
  * customer plus addTarget from its nation), exact per block of 20; the
  * timed phase ends with the first whole block after `seconds`. Every 2nd acked write starts
  * a replica catch-up on a background thread.
  *
  * Reads are checked against the values the set-up wrote. After the loop
  * the store is closed and reopened (timed as `recover_s`), and every
  * acked txn's node and edge must be there.
  */
final class GraphServeWorkload(spark: SparkSession, tracer: Tracer, report: Report,
    work: String, seed: Long, seconds: Double) {
  import GraphServeWorkload._

  private val storeDir = s"$work/store"
  private val nationKey = IndexKey("Nation_Customer")

  def run(): Unit = {
    val rnd = new scala.util.Random(seed)
    val build = GraphStore.open[GeoV](spark, GeoModel, GeoRoot, storeDir)
    val s = build.session
    val regions = Regions.map { r => val id = s.newNode(RegionV(r)); s.addTarget(s.root, id); id }
    val nations = (0 until 25).map { i =>
      val id = s.newNode(NationV(s"NATION_$i")); s.addTarget(regions(i % 5), id); id
    }
    val custNation = Array.fill(Customers)(rnd.nextInt(25))
    val custIds = (0 until Customers).map { k =>
      val id = s.newNode(CustomerV(k.toLong)); s.addTarget(nations(custNation(k)), id); id
    }
    Main.log("graph built in the session")
    build.commit()
    Main.log("committed")
    build.close()
    Main.log("closed")
    val keyOf: Map[Long, Long] = custIds.zipWithIndex.map { case (id, k) => id -> k.toLong }.toMap
    val baseOf: Map[Long, Set[Long]] = custIds.indices.groupBy(k => nations(custNation(k)))
      .map { case (n, ks) => n -> ks.map(custIds).toSet }
    val allBase = custIds.toSet

    val store = GraphStore.open[GeoV](spark, GeoModel, GeoRoot, storeDir)
    val replica = GraphReplica.bootstrap(spark, GeoModel, storeDir)
    Main.log("reopened, replica bootstrapped")
    replica.catchUp()
    Main.log("replica caught up")
    val server = Wire.serve(replica, store)
    val readers = (0 until Clients).map(c =>
      new Wire.ReadClient(spark, GeoModel, server.host, server.port, s"r$c"))
    val writers = (0 until Clients).map(c =>
      new Wire.WriteClient(spark, GeoModel, server.host, server.port, s"w$c"))

    // acked writes: (node id, customer key, nation node id)
    val acked = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val ackCount = new AtomicLong(0L)
    val catchUps = new ConcurrentLinkedQueue[(Double, Long)]() // (seconds, lag batches)
    val catchUpPool = Executors.newSingleThreadExecutor()
    var appliedBatches = walBatches().size.toLong

    def catchUp(): Unit = {
      val pending = walBatches().size.toLong
      val t0 = System.nanoTime()
      tracer.span("catchup")(replica.catchUp())
      catchUps.add(((System.nanoTime() - t0) / 1e9, pending - appliedBatches))
      appliedBatches = pending
    }

    def read(c: Int, r: scala.util.Random, traced: Boolean): Unit = {
      val ids = Seq.fill(16)(custIds(r.nextInt(Customers)))
      report.timed("getvalues", traced)(tracer.span("wire.getvalues")(readers(c).getValues(ids))) { got =>
        val bad = ids.distinct.filterNot(id => got.get(id).contains(CustomerV(keyOf(id))))
        if (bad.isEmpty) None else Some(s"getValues wrong for ids ${bad.take(5).mkString(",")}")
      }
    }

    def targets(c: Int, r: scala.util.Random, traced: Boolean): Unit = {
      val n = nations(r.nextInt(25))
      report.timed("targets", traced)(tracer.span("wire.targets")(readers(c).getTargets(n, nationKey))) { got =>
        val g = got.toSet
        val missing = baseOf.getOrElse(n, Set.empty) -- g
        val foreign = g.intersect(allBase) -- baseOf.getOrElse(n, Set.empty)
        if (missing.isEmpty && foreign.isEmpty) None
        else Some(s"getTargets($n) missing ${missing.size}, foreign ${foreign.size}")
      }
    }

    def write(c: Int, key: Long, r: scala.util.Random, traced: Boolean): Unit = {
      val n = nations(r.nextInt(25))
      report.timed("write", traced)(tracer.span("wire.txn") {
        val txn = writers(c).submit { t => val id = t.newNode(CustomerV(key)); t.addTarget(n, id) }
        writers(c).await(txn, timeoutMs = 120000L)
      }) { ack =>
        if (!ack.applied || ack.error.nonEmpty) Some(s"txn ${ack.txnId} refused: ${ack.error}")
        else ack.assigned.get(-1L) match {
          case None => Some(s"txn ${ack.txnId} acked without an assigned id")
          case Some(id) =>
            acked.add((id, key, n))
            if (ackCount.incrementAndGet() % CatchUpEvery == 0 && !catchUpPool.isShutdown)
              catchUpPool.submit(new Runnable { def run(): Unit = catchUp() })
            None
        }
      }
    }

    // the request mix, exact within each block of 20 (14 getValues, 3
    // getTargets, 3 writes) in a seeded order; the clients take requests
    // from it in turn until the deadline has passed and the block in
    // progress is used up, so every run serves the stated mix exactly
    val mixRnd = new scala.util.Random(seed)
    val schedule = Iterator.continually(mixRnd.shuffle(Seq.fill(14)(0) ++ Seq.fill(3)(1) ++ Seq.fill(3)(2)))
      .flatten
    var taken = 0L
    def nextRequest(until: Long): Option[(Long, Int)] = schedule.synchronized {
      if (System.nanoTime() >= until && taken % MixBlock == 0) None
      else { taken += 1; Some((taken, schedule.next())) }
    }
    def client(c: Int, until: Long): Unit = {
      val r = new scala.util.Random(seed * 31 + c)
      Iterator.continually(nextRequest(until)).takeWhile(_.nonEmpty).flatten.foreach { case (i, kind) =>
        val traced = tracer.on
        kind match {
          case 0 => read(c, r, traced)
          case 1 => targets(c, r, traced)
          case _ => write(c, WriteKeyBase + i, r, traced)
        }
      }
    }

    // warm-up: one read per client connection, every request kind once,
    // then one catch-up
    val warm = new scala.util.Random(seed * 97)
    (0 until Clients).foreach(c => read(c, warm, traced = false))
    targets(0, warm, traced = false)
    write(0, WriteKeyBase / 2, warm, traced = false)
    Main.log("warm-up ops done")
    catchUp()
    Main.log("warm-up catch-up done")
    report.ops.clear()
    catchUps.clear()
    val setupS = Main.sinceEntry()

    val start = System.nanoTime()
    val until = start + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => client(c, until), s"perfbench-client-$c")
      t.start(); t
    }
    // tracing alternates by the second while the clients run
    while (threads.exists(_.isAlive)) {
      tracer.setOn(tracer.enabled && ((System.nanoTime() - start) / 1000000000L) % 2 == 1)
      Thread.sleep(20)
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - start) / 1e9
    val timedOps = report.opList
    catchUpPool.shutdown()
    catchUpPool.awaitTermination(300, TimeUnit.SECONDS)
    tracer.setOn(false)
    val heap = Main.heapMb()
    // the Spark, driver and overhead metrics cover the timed phase only,
    // not the probe below; the store metrics set later replace its zeros
    if (tracer.enabled) Layers.finish(tracer, report)
    Main.log("timed phase done")

    // one client at a time, so every job the server submits belongs to
    // the request in flight
    val probeJobs = if (!tracer.enabled) Map.empty[String, Double] else {
      tracer.setOn(true)
      val r = new scala.util.Random(seed * 53)
      val windows = (0 until 4).flatMap { i =>
        Seq("getvalues" -> (() => read(0, r, traced = true)),
          "targets" -> (() => targets(0, r, traced = true)),
          "write" -> (() => write(0, WriteKeyBase * 9 + i, r, traced = true))).map { case (k, f) =>
          Thread.sleep(30)
          val t0 = System.nanoTime(); f(); val t1 = System.nanoTime()
          (k, t0, t1)
        }
      }
      Thread.sleep(30)
      tracer.setOn(false)
      tracer.drain()
      report.ops.clear()
      report.ops.addAll(timedOps.asJava)
      windows.groupBy(_._1).map { case (k, ws) =>
        k -> ws.map { case (_, a, b) => tracer.jobsSubmittedIn(a, b).size.toDouble }.sum / ws.size
      }
    }

    readers.foreach(_.close())
    writers.foreach(_.close())
    server.close()
    val batches = walBatches()
    val walBytes = batches.map(dirBytes).sum
    val c0 = System.nanoTime()
    store.close()
    val closeS = (System.nanoTime() - c0) / 1e9

    Main.log("store closed")
    val ackedAll = acked.asScala.toSeq
    report.attempted.addAndGet(ackedAll.size.toLong) // each acked txn's durability is checked
    val r0 = System.nanoTime()
    // an exception here leaves the acked txns unchecked, so it is a wrong op
    val recoverS = Try {
      val reopened = GraphStore.open[GeoV](spark, GeoModel, GeoRoot, storeDir)
      val recoverS = (System.nanoTime() - r0) / 1e9
      val state = reopened.session.applied()
      val ids = ackedAll.map(_._1)
      val nodes = state.nodes.where(col("id").isin(ids: _*)).select("id", "kind", "value").collect()
        .map(r => r.getLong(0) -> GeoModel.fromValueRow(r.getString(1), r.getStruct(2))).toMap
      val edges = state.edges.where(col("dst").isin(ids: _*)).select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lost = ackedAll.filterNot { case (id, key, n) =>
        nodes.get(id).contains(CustomerV(key)) && edges.contains((n, id)) }
      lost.foreach { case (id, _, _) => report.fail(s"acked txn node $id lost after reopen", wrongOutput = true) }
      recoverS
    } match {
      case Success(t) => t
      case Failure(e) =>
        report.fail(s"durability check threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}",
          wrongOutput = true)
        Double.NaN
    }

    Main.log("durability checked")
    val ok = report.opList.filter(o => o.ok && !o.traced)
    val reads = ok.filter(o => o.name == "getvalues" || o.name == "targets").map(_.seconds)
    val writes = ok.filter(_.name == "write").map(_.seconds)
    val done = timedOps.count(_.ok)
    report.putCommon(setupS, heap)
    report.putLatency("read", reads)
    report.putLatency("write", writes)
    report.e2e("ops_per_s") = (done / wallS, "1/s", done.toLong)
    report.e2e("recover_s") = (recoverS, "s", 1L)
    report.e2e("latency_ms") = (Stats.median(reads) * 1e3, "ms", reads.size.toLong)

    if (tracer.enabled) {
      val txns = math.max(1, ackedAll.size).toDouble
      report.layer("store.wal_batches_per_txn", batches.size / txns, "count", ackedAll.size)
      report.layer("store.wal_bytes_per_txn", walBytes / txns, "bytes", ackedAll.size)
      report.layer("store.close_s", closeS, "s", 1)
      Seq("getvalues" -> "wire.getvalues_s", "targets" -> "wire.targets_s").foreach { case (k, m) =>
        val (v, n) = Layers.medianOf(report, k)
        report.layer(m, v, "s", n)
      }
      report.layer("wire.jobs_per_read", probeJobs("getvalues"), "count", 4)
      report.layer("wire.jobs_per_write", probeJobs("write"), "count", 4)
      val cu = catchUps.asScala.toSeq
      report.layer("replica.catchup_s", Stats.median(cu.map(_._1)), "s", cu.size)
      report.layer("replica.lag_batches", Stats.median(cu.map(_._2.toDouble)), "count", cu.size)
    }
  }

  /** The store's WAL batch directories published since it was opened. */
  private def walBatches(): Seq[Path] =
    Files.list(Paths.get(storeDir)).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".events"))
      .flatMap(ev => Files.list(ev).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("batch-")))

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

object GraphServeWorkload {
  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Customers = 1500
  val Clients = 4
  val WriteKeyBase = 100000000L
  /** Acked writes per replica catch-up: a 20-second run acks about ten
    * writes, so a catch-up every 8th would give one sample a run. */
  val CatchUpEvery = 2
  val MixBlock = 20
}
