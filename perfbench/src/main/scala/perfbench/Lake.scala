package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.operators.Similarity
import graft.sources.TimeTravel

/** The lake: one writer thread and one reader thread share one versioned
  * table and one LSH index. The writer runs a seeded mix of commits
  * (appends with batch ids, some of them replays of an earlier id, upserts
  * over recent keys, deletes), index appends and deletes, and a
  * size-based maintenance pass every few ops. The reader runs `read`,
  * `readAsOf` and `lshSearch`. An in-benchmark model of the applied ops
  * checks every read, every `readAsOf`, the final table and the absence
  * of deleted ids from search results.
  */
final class Lake(spark: SparkSession, out: String, seed: Long, trace: Trace,
                 fault: Boolean) extends Workload {
  import spark.implicits._

  private val InitialRows = 20000
  private val BatchRows = 500
  private val UpsertRows = 200
  private val DeleteRows = 50
  private val Dim = 16
  private val InitialVecs = 2000
  private val VecBatch = 50
  private val Dims = Seq("k")

  private type Rows = Map[Long, (Int, Long)]

  private var dir = ""
  private var idx = ""
  // model: committed version -> live rows (id -> (k, v))
  private val versions = new ConcurrentHashMap[Long, Rows]()
  @volatile private var head = 0L
  private val tombstoned = ConcurrentHashMap.newKeySet[Long]()
  private var liveVids = Vector.empty[Long]
  private var nextId = 0L
  private var nextVid = 0L
  private var batches = Vector.empty[(String, Seq[(Long, Int, Long, String)])]
  private var writerRnd: scala.util.Random = _
  private var readerRnd: scala.util.Random = _
  private var userBytes = 0L
  private val failures = new ConcurrentLinkedQueue[String]()
  // (op id, head when the read began, what it read)
  private val reads = new ConcurrentLinkedQueue[(String, Long, (Long, Long, Long))]()

  private def note(id: Long) = s"row-$id"
  private def rowBytes(id: Long) = 8 + 4 + 8 + note(id).length

  private def rows(ids: Seq[Long], rnd: scala.util.Random) =
    ids.map(id => (id, rnd.nextInt(64), rnd.nextInt(1000000).toLong, note(id)))

  private def frame(rs: Seq[(Long, Int, Long, String)]): DataFrame =
    rs.toDF("id", "k", "v", "note")

  private def vectors(ids: Seq[Long], rnd: scala.util.Random): DataFrame =
    ids.map(id => (id, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
      .toDF("vid", "vec")

  private def commit(ver: Long, state: Rows): Unit = {
    versions.put(ver, state)
    head = ver
  }

  def setup(rep: Int): Unit = {
    dir = s"$out/lake-$rep"
    idx = s"$out/index-$rep"
    versions.clear(); tombstoned.clear(); reads.clear()
    batches = Vector.empty
    writerRnd = new scala.util.Random(seed)
    readerRnd = new scala.util.Random(seed + 1)
    val init = rows(0L until InitialRows.toLong, writerRnd)
    nextId = InitialRows
    commit(TimeTravel.commitAppend(frame(init), dir, Dims, files = 4),
      init.map(r => r._1 -> (r._2, r._3)).toMap)
    liveVids = (0L until InitialVecs.toLong).toVector
    nextVid = InitialVecs
    Similarity.saveLshIndex(vectors(liveVids, writerRnd), idx, "vid", "vec",
      bits = 16, prefixBits = 4, tables = 1)
  }

  /** Every face once, checked like the timed ones. */
  def warmup(): Unit = {
    WriterFaces.distinct.foreach(f => writerOp(f, s"warm-$f"))
    ReaderFaces.distinct.foreach(f => readerOp(f, s"warm-$f"))
  }

  private def timedOp(kind: String, face: String, id: String,
                      layer: String)(f: => Unit): Op = {
    val traced = trace.on
    spark.sparkContext.setLocalProperty(Trace.OpKey, id)
    val files0 = if (traced) fileCount(layer) else 0
    val start = trace.nowMs
    val ok = try { trace.span(layer, face, id)(f); true }
    catch { case e: Exception =>
      failures.add(s"$face $id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      false
    }
    val end = trace.nowMs
    spark.sparkContext.setLocalProperty(Trace.OpKey, null)
    Op(kind, face, id, start, end, ok, traced,
      Map("files_added" -> (if (traced) fileCount(layer) - files0 else 0)))
  }

  private def fileCount(layer: String): Long = {
    val root = java.nio.file.Paths.get(if (layer == "operators") idx else dir)
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  // Each stratum holds every face in a fixed count, in seeded order, with
  // the maintenance pass closing the writer's; so any run of whole strata
  // has the same mix.
  private val WriterFaces = Seq("append", "append", "append_replay",
    "upsert", "delete", "index_append", "index_delete")
  private val ReaderFaces = Seq("read", "read", "read_as_of", "read_as_of",
    "search")

  private def strata(faces: Seq[String], last: Seq[String],
                     rnd: scala.util.Random): Iterator[String] =
    Iterator.continually(rnd.shuffle(faces) ++ last).flatten

  private def writerOp(face: String, id: String): Op = face match {
    case "append" => timedOp("write", face, id, "sources") {
      val rs = rows(nextId until nextId + BatchRows, writerRnd)
      nextId += BatchRows
      val batchId = s"batch-${batches.size}-$id"
      batches :+= batchId -> rs
      userBytes += rs.map(r => rowBytes(r._1)).sum
      val ver = TimeTravel.commitAppend(frame(rs), dir, Dims, files = 2,
        batchId = Some(batchId))
      commit(ver, versions.get(head) ++ rs.map(r => r._1 -> (r._2, r._3)))
    }
    case "append_replay" => timedOp("write", face, id, "sources") {
      val (batchId, rs) = batches(writerRnd.nextInt(batches.size))
      userBytes += rs.map(r => rowBytes(r._1)).sum
      TimeTravel.commitAppend(frame(rs), dir, Dims, files = 2,
        batchId = Some(batchId))
      val latest = TimeTravel.latestVersion(spark, dir)
      if (latest != head)
        failures.add(s"$id: replay of $batchId moved the head $head -> $latest")
    }
    case "upsert" => timedOp("write", face, id, "sources") {
      val live = versions.get(head)
      val recent = live.keysIterator.filter(_ >= nextId - 5 * BatchRows).toVector
      val pool = if (recent.size >= UpsertRows) recent else live.keys.toVector
      val ids = writerRnd.shuffle(pool).take(UpsertRows).sorted
      val rs = rows(ids, writerRnd)
      userBytes += rs.map(r => rowBytes(r._1)).sum
      val ver = TimeTravel.commitUpsert(spark, dir, "id", frame(rs), files = 2)
      commit(ver, live ++ rs.map(r => r._1 -> (r._2, r._3)))
    }
    case "delete" => timedOp("write", face, id, "sources") {
      val live = versions.get(head)
      val ids = Seq.fill(DeleteRows)(writerRnd.nextLong(nextId)).distinct
      userBytes += 8L * ids.size
      val ver = TimeTravel.commitDelete(spark, dir, "id", ids.toDF("id"))
      commit(ver, live -- ids)
    }
    case "maintain" => timedOp("write", face, id, "sources") {
      TimeTravel.maintainBySize(spark, dir, Dims, targetBytes = 4L << 20,
        retainMillis = 3600L * 1000)
      val latest = TimeTravel.latestVersion(spark, dir)
      if (latest != head) commit(latest, versions.get(head))
    }
    case "index_append" => timedOp("write", face, id, "operators") {
      val ids = (nextVid until nextVid + VecBatch).toVector
      nextVid += VecBatch
      Similarity.appendLshIndex(vectors(ids, writerRnd), idx, "vid", "vec")
      liveVids ++= ids
    }
    case "index_delete" => timedOp("write", face, id, "operators") {
      val ids = writerRnd.shuffle(liveVids).take(10)
      Similarity.deleteFromLshIndex(ids.toDF("vid"), idx, "vid")
      ids.foreach(tombstoned.add)
      liveVids = liveVids.filterNot(ids.toSet)
    }
  }

  private def aggregate(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("v")),
      sum(col("id") * 7 + col("v") * 13)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def expected(v: Long): (Long, Long, Long) = {
    val m = versions.get(v)
    (m.size.toLong, m.valuesIterator.map(_._2).sum,
      m.iterator.map { case (id, (_, x)) => id * 7 + x * 13 }.sum)
  }

  private def readerOp(face: String, id: String): Op = face match {
    case "read" => timedOp("read", face, id, "sources") {
      val lo = head
      // the read sees some version at or after `lo`, which the writer may
      // not have recorded yet: checked in `finish`
      reads.add((id, lo, aggregate(TimeTravel.read(spark, dir))))
    }
    case "read_as_of" => timedOp("read", face, id, "sources") {
      val vs = versions.keySet().asScala.toVector.sorted
      val v = vs(readerRnd.nextInt(vs.size))
      val got = aggregate(TimeTravel.readAsOf(spark, dir, v))
      if (got != expected(v)) failures.add(s"$id: readAsOf($v) = $got, model ${expected(v)}")
    }
    case "search" => timedOp("read", face, id, "operators") {
      val gone = tombstoned.asScala.toSet
      val q = vectors(Seq(-1L, -2L, -3L), readerRnd)
      val hits = Similarity.lshSearch(spark, idx, q, "vid", "vec", k = 5)
        .select(col("neighbor_id")).as[Long].collect()
      val bad = hits.filter(gone)
      if (bad.nonEmpty) failures.add(s"$id: search returned deleted ids ${bad.mkString(",")}")
    }
  }

  private var writtenBytes = 0L

  def run(seconds: Double): Seq[Op] = {
    val deadline = trace.nowMs + seconds * 1000
    val ops = new ConcurrentLinkedQueue[Op]()
    val w0 = FsStats.bytesWritten
    val u0 = userBytes
    def loop(step: Int => Op): Thread = new Thread(() => {
      var i = 0
      while (trace.nowMs < deadline) { ops.add(step(i)); i += 1 }
    })
    val writerFaces = strata(WriterFaces, Seq("maintain"), writerRnd)
    val readerFaces = strata(ReaderFaces, Nil, readerRnd)
    val threads = Seq(
      loop(i => writerOp(writerFaces.next(), s"w$i")),
      loop(i => readerOp(readerFaces.next(), s"r$i")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    writtenBytes = FsStats.bytesWritten - w0
    userBytes -= u0
    ops.asScala.toSeq.sortBy(_.start)
  }

  def finish(ops: Seq[Op]): Map[String, Any] = {
    val byVersion = versions.asScala.keys.map(v => v -> expected(v)).toMap
    reads.asScala.foreach { case (id, lo, got) =>
      if (!byVersion.exists { case (v, e) => v >= lo && e == got })
        failures.add(s"$id: read $got matches no version since $lo")
    }
    val model = versions.get(head) ++
      (if (fault) Map(-1L -> (0, 0L)) else Map.empty[Long, (Int, Long)])
    val got = TimeTravel.read(spark, dir).select("id", "k", "v").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    if (got != model) failures.add(
      s"final read: ${got.size} rows, model ${model.size} rows " +
        s"(${(got.toSet diff model.toSet).size} unexpected, " +
        s"${(model.toSet diff got.toSet).size} missing)")
    val stored = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    val liveBytes = model.keysIterator.map(rowBytes).sum
    // the model is the benchmark's, not the engine's: drop it before the
    // driver heap is measured
    versions.clear()
    batches = Vector.empty
    Map("failures" -> failures.asScala.toList,
      "lake" -> Map(
        "bytes_written" -> writtenBytes, "user_bytes" -> userBytes,
        "bytes_stored" -> stored,
        "live_bytes" -> liveBytes,
        "versions" -> head))
  }
}
