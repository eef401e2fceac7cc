package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.{Jobs, SparkTestSession}
import graft.decode.CanFixture._

/** The stateless parse lands what the stateful one landed. A case seed
  * draws a multi-device stream of logs: fresh segments that overlap their
  * device's latest ticks by up to 2 s (so ticks fall on both sides of the
  * 1.2 s watermark, and on it), late segments up to 30 s behind, re-uploads
  * of an earlier log, epochs whose frames sit in two logs, and frames out
  * of order inside a log. The logs are uploaded in order and split into
  * invocations. Every signal's value is a function of its device and time,
  * so frames that share an epoch and a signal agree (`CanPipelines.pivot`
  * documents the disagreeing case).
  *
  * After every invocation, the landing table's rows, every `landing_json/`
  * document and every event document of `Jobs.parse` + `Jobs.infer` are
  * byte-identical to those of the stateful reference (`StatefulParse`) +
  * `Jobs.infer` over the same split.
  *
  * Paced by `maxFilesPerTrigger`, an invocation runs several micro-batches,
  * and Spark's stateful query drops each one's late ticks against the
  * watermark the batch before it started with
  * (`eventTimeWatermarkForLateEvents`), one batch behind. The engine
  * carries that lagged value, so the paced law is the same equality.
  */
object ParseLawProps extends Properties("ParseLaw") {
  private lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    graft.FixedSeed(p, 12L).withMinSuccessfulTests(4).withWorkers(1)

  private final case class Log(device: String, name: String, bytes: Array[Byte])

  /** 2023-11-14 22:59:40 UTC, in ms: the streams cross into the next hour. */
  private val T0 = 1700002780000L

  private def speedAt(t: Long): Double = if (t / 1000 / 18 % 2 == 0) 0.0 else 20.0 + 8 * (t / 1000 % 5)
  private def apAt(t: Long): Byte = if (t / 1000 / 9 % 2 == 0) 2 else 3
  private def accelAt(t: Long): Array[Byte] = Array.tabulate(6)(i => ((t / 200 + 37 * i) % 251).toByte)

  /** A log from `start` ms for `dur` ms: on a 200 ms grid, speed, accel and
    * (each whole second) AP frames, each present at random, in an order
    * shuffled within blocks of five frames.
    */
  private def log(rnd: Random, start: Long, dur: Int): Array[Byte] = {
    val frames = (0 until dur by 200).flatMap { g =>
      val t = start + g
      Seq(
        Option.when(rnd.nextDouble() < 0.7)(frame(g, 599, 0, speedPayload(speedAt(t)))),
        Option.when(rnd.nextDouble() < 0.3)(frame(g, 273, 0, accelAt(t))),
        Option.when(t % 1000 == 0 && rnd.nextDouble() < 0.8)(frame(g, 921, 0, Array(apAt(t))))).flatten
    }
    file(timesync(start * 1000) +: frames.grouped(5).flatMap(rnd.shuffle(_)).toSeq: _*)
  }

  /** The invocations of case `seed`, each the logs uploaded before it. */
  private def draw(seed: Long): Seq[Seq[Log]] = {
    val rnd   = new Random(seed)
    val nDev  = 1 + rnd.nextInt(3)
    val clock = Array.tabulate(nDev)(d => T0 + d * 7000L)
    val logs = (0 until 4 + rnd.nextInt(5)).foldLeft(Vector.empty[Log]) { (done, i) =>
      val d    = rnd.nextInt(nDev)
      val name = f"f$i%02d.log"
      val mine = done.filter(_.device == s"d$d")
      if (mine.nonEmpty && rnd.nextInt(10) == 0) done :+ mine(rnd.nextInt(mine.size)).copy(name = name)
      else {
        val back  = if (rnd.nextInt(4) == 0) 3000 + rnd.nextInt(27000) else rnd.nextInt(2000) - 200
        val start = (clock(d) - back) / 200 * 200
        val dur   = 2000 + rnd.nextInt(18000)
        clock(d) = math.max(clock(d), start + dur)
        done :+ Log(s"d$d", name, log(rnd, start, dur))
      }
    }
    val cuts = rnd.shuffle((1 until logs.size).toList).take(rnd.nextInt(math.min(4, logs.size))).sorted
    val bounds = 0 +: cuts :+ logs.size
    bounds.zip(bounds.tail).map { case (a, b) => logs.slice(a, b) }
  }

  /** Upload `log` into `raw`, last modified at `at` s after a fixed origin,
    * so `maxFilesPerTrigger` admits the logs in upload order.
    */
  private def upload(raw: Path, log: Log, at: Int): Unit = {
    val p = raw.resolve(log.device).resolve(log.name)
    Files.createDirectories(p.getParent)
    Files.write(p, log.bytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis() - 100000000L + at * 1000L))
  }

  /** Every JSON document under `dir`: relative path -> bytes. */
  private def docs(dir: Path): Map[String, Seq[Byte]] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".json") && !p.getFileName.toString.startsWith("."))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap

  /** The landing table's rows and every document of a work dir. */
  private def outputs(work: Path): (Seq[Row], Map[String, Seq[Byte]]) = {
    val landing = work.resolve("landing")
    val rows =
      if (!Files.exists(landing)) Nil
      else spark.read.parquet(landing.toString).orderBy("device", "epoch_sec").collect().toSeq
    (rows, docs(work.resolve("landing_json")) ++ docs(work.resolve("events")).map { case (k, v) => s"events/$k" -> v })
  }

  /** A work dir and its raw dir; `run` parses what was uploaded so far. */
  private final class Side(tag: String, run: (String, String) => Unit) {
    private val root = Files.createTempDirectory(s"law_$tag")
    val raw: Path    = root.resolve("raw")
    val work: Path   = root.resolve("work")
    Files.createDirectories(raw)
    def parse(): Unit = run(raw.toString, work.toString)
    def infer(): Unit = Jobs.infer(spark, work.toString)
    def delete(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  private def check(seed: Long, step: Int, engine: Side, ref: Side): Prop = {
    val (e, r) = (outputs(engine.work), outputs(ref.work))
    Prop(e._1 == r._1 && e._2 == r._2) :|
      s"case $seed, invocation $step: landing rows ${e._1.size} vs ${r._1.size}, " +
      s"documents differ at ${(e._2.keySet ++ r._2.keySet).filter(k => e._2.get(k) != r._2.get(k))}"
  }

  /** Case `seed` through the engine and the reference, both paced by `pace`. */
  private def law(seed: Long, pace: Option[Int]): Prop = {
    val engine = new Side("engine", (raw, work) => pace match {
      case None => Jobs.parse(spark, raw, work)
      case p    => CanStreams.runParse(spark, raw, s"$work/landing", s"$work/ckpt/parse", s"$work/landing_json", p).awaitTermination()
    })
    val ref = new Side("ref", StatefulParse.parse(spark, _, _, pace))
    try {
      var uploaded = 0
      Prop.all(draw(seed).zipWithIndex.map { case (inv, step) =>
        inv.foreach { l =>
          Seq(engine, ref).foreach(s => upload(s.raw, l, uploaded)); uploaded += 1
        }
        Seq(engine, ref).foreach { s => s.parse(); s.infer() }
        check(seed, step, engine, ref)
      }: _*)
    } finally Seq(engine, ref).foreach(_.delete())
  }

  property("split into invocations: landing, JSON export and events == the stateful parse") =
    forAllNoShrink(Gen.long)(law(_, None))

  property("paced by maxFilesPerTrigger: the same, micro-batch by micro-batch") =
    forAllNoShrink(Gen.long, Gen.choose(1, 2))((seed, pace) => law(seed, Some(pace)))
}
