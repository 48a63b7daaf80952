package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The sweep harness contract every bench main relies on: the artifact is
  * rewritten after each leg, the gates run only once it is on disk, the
  * JSON writer escapes what it is given, the job log records and names
  * what ran, and a temp tree is deleted without following links. Runs on
  * the shared session with a no-op stop.
  */
class SweepSpec extends SparkSpecBase {

  private val sfDir = "/data/\"quoted\"\\back\\slash"

  private def parse(p: java.nio.file.Path): JsonNode =
    new ObjectMapper().readTree(new String(Files.readAllBytes(p), "UTF-8"))

  /** A fake family with legs at factors 2 and 3, each built by `mk`. */
  private def family(mk: Int => Sweep.Leg) = new Sweep.Legs {
    val metric = "fake_sweep"
    val artifactFile = "unused.json"
    def leg(c: Sweep.Ctx, factor: Int): Sweep.Leg = mk(factor)
  }

  private def artifactPath() =
    Files.createTempDirectory("sweep_spec").resolve("BENCH_SCALE_fake.json")

  test("a leg that crashes keeps the finished legs on disk, and no gate runs") {
    val out = artifactPath()
    var stops = 0
    val crashing = family {
      case 2 => Sweep.Leg("x2", Seq("rows" -> 7L, "exact" -> false),
        () => throw new IllegalStateException("x2 gate tripped"))
      case _ => throw new RuntimeException("x3 leg crashed")
    }
    val e = intercept[RuntimeException] {
      Sweep.run(crashing, Sweep.Ctx(spark, sfDir, Seq(2, 3), 1), out, () => stops += 1)
    }
    assert(e.getMessage == "x3 leg crashed", "the crash, not leg 1's gate, ends the run")
    assert(stops == 1)
    val j = parse(out)
    assert(j.get("legs").size == 1)
    assert(j.get("legs").get("x2").get("rows").asLong == 7L)
    assert(!j.get("legs").get("x2").get("exact").asBoolean)
    assert(j.get("sf").asText == sfDir, "sfDir must round-trip through the JSON writer")
  }

  test("the gate throws only after the artifact holds every leg, is printed, and stopped") {
    val out = artifactPath()
    var stops = 0
    var atFirstGate: Option[(Int, JsonNode)] = None
    val gated = family { f =>
      Sweep.Leg(s"x$f", Seq("rows" -> 7L * f, "sec" -> 0.5), () => {
        if (atFirstGate.isEmpty) atFirstGate = Some((stops, parse(out)))
        throw new IllegalStateException(s"x$f gate tripped")
      })
    }
    val printed = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalStateException] {
      Console.withOut(printed) {
        Sweep.run(gated, Sweep.Ctx(spark, sfDir, Seq(2, 3), 1), out, () => stops += 1)
      }
    }
    assert(e.getMessage == "x2 gate tripped", "gates run in leg order")
    val (stopsThen, onDisk) = atFirstGate.get
    assert(stopsThen == 1, "the gate runs after the session stop")
    assert(onDisk.get("legs").size == 2, "the gate sees the artifact with every leg")
    assert(onDisk.get("legs").get("x3").get("rows").asLong == 21L)
    assert(onDisk.get("sf").asText == sfDir)
    val lastLine = printed.toString("UTF-8").linesIterator.toSeq.last
    assert(new ObjectMapper().readTree(lastLine) == onDisk, "the artifact is the last stdout line")
  }

  test("the JSON writer escapes quotes, backslashes and control characters") {
    val s = "a\"b\\c\nd\u0001"
    val j = new ObjectMapper().readTree(
      Sweep.render(Sweep.obj("s" -> s, "xs" -> Seq(1, 2), "nan" -> Double.NaN)))
    assert(j.get("s").asText == s)
    assert(j.get("xs").size == 2 && j.get("nan").isNull)
  }

  test("the job log holds a job's stages, tasks and input bytes; a reset clears it") {
    val c = Sweep.Ctx(spark, sfDir, Seq(1), 1)
    try {
      c.log.reset()
      Sweep.exec(spark.read.parquet(s"${sf("sf0.001")}/orders.parquet").repartition(3))
      c.log.settle()
      val reduce = c.log.stages.filter(_.tasks == 3)
      assert(reduce.size == 1, s"one 3-task reduce stage: ${c.log.stages}")
      val job = c.log.jobs.find(_.stageIds.contains(reduce.head.id)).get
      assert(job.stageIds.size == 2, "the reduce stage and the scan stage it reads")
      assert(job.tasks >= 3 && job.ms >= 0)
      assert(c.log.inputBytes > 0, "the parquet scan's task input bytes")
      c.log.reset()
      assert(c.log.jobs.isEmpty && c.log.stages.isEmpty && c.log.inputBytes == 0)
    } finally spark.sparkContext.removeSparkListener(c.log)
  }

  test("the job log names each job and its stages after the SQL execution that ran them") {
    val c = Sweep.Ctx(spark, sfDir, Seq(1), 1)
    try {
      c.log.reset()
      spark.range(0, 100, 1, 2).repartition(3).localCheckpoint().count()
      c.log.settle()
      val names = c.log.jobs.map(_.desc)
      assert(names.exists(_.startsWith("localCheckpoint at SweepSpec.scala:")), names)
      assert(names.exists(_.startsWith("count at SweepSpec.scala:")), names)
      assert(names.forall(n => n.startsWith("localCheckpoint at ") || n.startsWith("count at ")),
        s"every job, AQE's shuffle-stage jobs included, is named: $names")
      assert(c.log.stages.nonEmpty && c.log.stages.forall(s => names.contains(s.job)),
        s"every stage carries its job's name: ${c.log.stages}")
    } finally spark.sparkContext.removeSparkListener(c.log)
  }

  test("withDir deletes its tree but not the files behind a link to an outside directory") {
    val outside = Files.createTempDirectory("sweep_outside")
    val kept = Files.write(outside.resolve("kept.txt"), "x".getBytes("UTF-8"))
    var tree: java.nio.file.Path = null
    SweepTmp.withDir("sweep_link") { d =>
      tree = java.nio.file.Paths.get(d)
      Files.createSymbolicLink(tree.resolve("link"), outside)
    }
    assert(!Files.exists(tree), "the tree itself is gone")
    assert(Files.exists(kept), "the link's target keeps its files")
  }
}
