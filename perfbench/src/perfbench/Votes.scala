package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.generator.VoteGenerator
import graft.operators.VotingOps
import graft.sources.VoteIngest
import graft.streaming.VotePipeline

/** The vote-stream workload: files of JSON vote-topic records renamed
  * into a text-source directory on an open-loop schedule. The file
  * source stands in for the reference's Kafka topic.
  */
object Votes {

  /** Records per file and file spacing of the open-loop publisher. Few,
    * larger files keep each micro-batch under the file index's parallel
    * listing threshold (32 paths), a cost of the stand-in source that a
    * topic does not have.
    */
  val FileRecords = 100
  val IntervalMs = 200L
  /** Offered rate: 500 records/s, well below what the two queries drain. */
  val Rate: Double = FileRecords * 1000.0 / IntervalMs
  /** Untimed lead-in at the same rate: query start-up and JIT warm-up.
    * With the tiered compiler, batch times were still falling 5 s in;
    * `run.py` runs this workload on the client compiler alone.
    */
  val WarmupS = 10.0
  /** Length of the sub-windows whose p95s give the reported p95. */
  val SubWindowS = 2.0
  /** A run is invalid when any file is published later than this... */
  val LateBoundMs = 100L
  /** ...or when the backlog grows by more than this share of the rate. */
  val SlopeBound = 0.05

  /** Shares of records an at-least-once producer redelivers, and
    * delivers out of order (displaced by at most [[MaxDisplacement]]
    * positions, well inside the one-minute watermark at one record
    * per second of event time).
    */
  val DuplicateShare = 0.03
  val OutOfOrderShare = 0.05
  val MaxDisplacement = 40

  val voteKeys = Seq("candidate_id", "candidate_name", "party_affiliation", "photo_url")

  /** Topic records for `voters` voters in the reference's mixed shape:
    * each voter's registration record, then that voter's vote record,
    * with seeded redeliveries and out-of-order displacements.
    */
  def topicRecords(spark: SparkSession, voters: Long, seed: Long): Array[String] = {
    val vs = VoteGenerator.voters(spark, voters, seed)
    val reg = VoteGenerator.toTopicRecords(vs).select(col("key"), lit(0).as("kind"), col("value"))
    val vote = VoteGenerator.toTopicRecords(VoteGenerator.votes(spark, vs, seed + 1))
      .select(col("key"), lit(1).as("kind"), col("value"))
    // votes() numbers voting_time in voter_id order, so this is vote order
    val inOrder = reg.unionByName(vote).orderBy("key", "kind").collect().map(_.getString(2))
    val rnd = new Random(seed)
    val keyed = mutable.ArrayBuffer.empty[(Double, String)]
    inOrder.zipWithIndex.foreach { case (v, i) =>
      val pos = if (rnd.nextDouble() < OutOfOrderShare) i + 1 + rnd.nextInt(MaxDisplacement) + 0.5 else i.toDouble
      keyed += ((pos, v))
      if (rnd.nextDouble() < DuplicateShare) keyed += ((i + 1 + rnd.nextInt(MaxDisplacement) + 0.25, v))
    }
    keyed.sortBy(_._1).map(_._2).toArray
  }

  /** The end of the first micro-batch of `q` that counts each file,
    * found from the batches' input row counts: files are consumed whole
    * and in publish order, so a batch must end on a file boundary.
    */
  def countedAt(progress: Progress, q: StreamingQuery, fileRows: Seq[Int]): Either[String, Seq[Long]] = {
    val batches = progress.of(q.id.toString).filter(_.rows > 0)
    val fileEnds = fileRows.scanLeft(0L)(_ + _).tail
    val ends = batches.scanLeft(0L)(_ + _.rows).tail
    val boundaries = fileEnds.toSet
    ends.find(e => !boundaries.contains(e)) match {
      case Some(e) => Left(s"${q.name}: a micro-batch ended inside a file (cumulative rows $e)")
      case None =>
        val byBatch = batches.zip(ends)
        val counted = fileEnds.map(fe => byBatch.find(_._2 >= fe).map(_._1.end).getOrElse(-1L))
        if (counted.contains(-1L)) Left(s"${q.name}: not every file was counted")
        else Right(counted)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Each final changelog against a batch `VotingOps` run over the
    * delivered records; returns the mismatches.
    */
  def check(spark: SparkSession, delivered: Seq[String], votes: VotePipeline.ChangelogCapture,
      turnout: VotePipeline.ChangelogCapture): Seq[String] = {
    import spark.implicits._
    val batch = VoteIngest.parse(delivered.toDF("value"))
    val bad = mutable.ArrayBuffer.empty[String]
    if (sortedRows(votes.latest(spark, voteKeys)) != sortedRows(VotingOps.votesPerCandidate(batch)))
      bad += "votes per candidate changelog differs from the batch VotingOps result"
    if (sortedRows(turnout.latest(spark, Seq("state"))) != sortedRows(VotingOps.turnoutByLocation(batch)))
      bad += "turnout changelog differs from the batch VotingOps result"
    bad.toSeq
  }

  def live(spark: SparkSession, a: Main.Args, sessionS: Double, trace: Option[Trace],
      out: Main.Outcome): Unit = {
    val nFiles = math.ceil((WarmupS + a.seconds) * 1000.0 / IntervalMs).toInt
    val warmFiles = (WarmupS * 1000 / IntervalMs).toInt
    val setupT0 = System.nanoTime()
    // generation three times, for a median
    var recs: Array[String] = Array.empty
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      recs = topicRecords(spark, nFiles.toLong * FileRecords / 2 + MaxDisplacement, a.seed)
        .take(nFiles * FileRecords)
      (System.nanoTime() - t0) / 1e9
    }
    val genS = Main.median(gens)
    val staged = a.work.resolve("staged")
    Files.createDirectories(staged)
    val files = recs.grouped(FileRecords).zipWithIndex.map { case (chunk, k) =>
      val p = staged.resolve(f"part-$k%06d.json")
      Files.writeString(p, chunk.mkString("", "\n", "\n"))
      p
    }.toIndexedSeq
    val fileRows = recs.grouped(FileRecords).map(_.length).toIndexedSeq
    val topic = a.work.resolve("topic")
    Files.createDirectories(topic)
    val progress = trace.map(_.progress).getOrElse { val p = new Progress; spark.streams.addListener(p); p }

    val parsed = VotePipeline.parsedStream(VoteIngest.readStream(spark, "text", topic.toString))
    val (votesAgg, turnoutAgg) = VotePipeline.aggregates(parsed)
    val (qv, cv) = VotePipeline.startCaptureQuery(votesAgg, "votes_per_candidate")
    val (qt, ct) = VotePipeline.startCaptureQuery(turnoutAgg, "turnout_by_state")
    val queries = Seq(qv, qt)

    // one publisher thread, on a schedule that does not wait for the engine;
    // the modification time orders the files for the source
    val t0 = System.currentTimeMillis() + 500L
    val due = (0 until nFiles).map(k => t0 + k * IntervalMs)
    val published = new Array[Long](nFiles)
    val publisher = new Thread(() => {
      (0 until nFiles).foreach { k =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.setLastModifiedTime(files(k), FileTime.fromMillis(due(k)))
        Files.move(files(k), topic.resolve(files(k).getFileName), StandardCopyOption.ATOMIC_MOVE)
        published(k) = System.currentTimeMillis()
      }
    }, "perfbench-publisher")
    publisher.setDaemon(true)
    publisher.start()
    Thread.sleep(math.max(0L, due(warmFiles) - System.currentTimeMillis()))
    out.e2e("setup_s") = sessionS + (System.nanoTime() - setupT0) / 1e9 - (gens.sum - genS)
    publisher.join()
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())

    out.attempted += 3
    check(spark, recs.toSeq, cv, ct).foreach(out.fail(1, _))
    (countedAt(progress, qv, fileRows), countedAt(progress, qt, fileRows)) match {
      case (Right(v), Right(t)) =>
        // an event is counted once both aggregates have counted it
        val counted = v.zip(t).map { case (x, y) => math.max(x, y) }
        val window = warmFiles until nFiles
        val lat = window.map(k => (counted(k) - due(k)).toDouble)
        val late = window.map(k => published(k) - due(k)).max
        // backlog at each counting instant: records published minus counted
        val backlog = window.map { k =>
          val at = counted(k)
          val pub = published.zip(fileRows).collect { case (p, n) if p <= at => n }.sum
          val cnt = counted.zip(fileRows).collect { case (c, n) if c <= at => n }.sum
          ((at - t0) / 1000.0, (pub - cnt).toDouble)
        }
        val slope = {
          val (xs, ys) = (backlog.map(_._1), backlog.map(_._2))
          val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
          xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.map(x => (x - mx) * (x - mx)).sum
        }
        // p95 as the median of the p95s of consecutive sub-windows, so
        // that one burst of host contention moves one sub-window only
        val perSub = (SubWindowS * 1000 / IntervalMs).toInt
        val p95 = Main.median(window.grouped(perSub).filter(_.size == perSub)
          .map(ks => Main.quantile(ks.map(k => (counted(k) - due(k)).toDouble), 0.95)).toSeq)
        val beyond = window.filter(k => counted(k) - due(k) > Main.quantile(lat, 0.95)).map(fileRows).sum
        if (late > LateBoundMs) out.fail(1, s"generator ran $late ms late (bound $LateBoundMs ms)")
        else if (slope > SlopeBound * Rate) out.fail(1, f"backlog grew at $slope%.0f records/s")
        else if (beyond < 10) out.fail(1, s"only $beyond events beyond the window's p95; run too short")
        else {
          out.e2e("latency_p50_ms") = Main.quantile(lat, 0.5)
          out.e2e("latency_p95_ms") = p95
          // the unit of work here is one micro-batch of either query
          val ids = queries.map(_.id.toString).toSet
          out.e2e("work_s") = Main.median(progress.all
            .filter(b => b.rows > 0 && b.start >= due(warmFiles) && ids(b.queryId))
            .map(b => (b.end - b.start) / 1000.0))
        }
        trace.foreach { tr =>
          // one unit per second of the measured window
          window.grouped((1000 / IntervalMs).toInt).zipWithIndex.foreach { case (ks, s) =>
            tr.markUnit(s"second $s", due(ks.head), due(ks.last) + IntervalMs)
          }
          out.layers ++= tr.layerMetrics()
          out.layers("generator.s") = genS
          out.layers("generator.late_ms") = late.toDouble
          out.e2e.get("work_s").foreach(out.layers("trace.work_s") = _)
        }
      case (v, t) => Seq(v, t).collect { case Left(why) => out.fail(1, why) }
    }
  }
}
