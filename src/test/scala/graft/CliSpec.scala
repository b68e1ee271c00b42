package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI coverage: run graft.Trck.main on the reference's JSON
  * test format with each --output-format, capturing stdout. The JSON input
  * path runs LocalRunner (no Spark session), so this is fast and checks
  * the arg parsing + program loading + sink wiring as a black box.
  */
class CliSpec extends AnyFunSuite {

  private def withCapturedStdout[A](f: => A): (A, Array[Byte]) = {
    val buf = new ByteArrayOutputStream()
    val old = System.out
    val ps = new PrintStream(buf, true, "UTF-8")
    System.setOut(ps)
    try {
      val r = Console.withOut(ps)(f) // withOut restores Console.out itself
      ps.flush()
      (r, buf.toByteArray)
    } finally System.setOut(old)
  }

  /** A program of the in-repo golden corpus (src/test/resources/golden). */
  private def golden(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/golden/$name").toURI).toString

  test("Tr2Png renders the reference window program to a real PNG") {
    val dir = Files.createTempDirectory("graft-tr2png")
    val out = dir.resolve("machine.png").toString
    graft.Tr2Png.main(Array(golden("window_after_10m.tr"), out))
    val img = javax.imageio.ImageIO.read(new java.io.File(out))
    assert(img != null, "output must be a decodable PNG")
    val (w, h) = (img.getWidth, img.getHeight)
    assert(w > 400 && h > 200, s"diagram should have real extent, got ${w}x$h")
    // non-vacuity: the canvas must contain drawn (non-white) pixels both in
    // the node column and in the edge margins
    def inked(x0: Int, x1: Int) = (for {
      x <- x0 until x1 by 3; y <- 0 until h by 3
    } yield img.getRGB(x, y) & 0xffffff).count(_ != 0xffffff)
    assert(inked(w / 3, 2 * w / 3) > 50, "node column is blank")
    assert(inked(0, w / 3) + inked(2 * w / 3, w) > 20, "edge margins are blank")
    // default output path derives from the program name
    val defaulted = dir.resolve("prog.tr")
    Files.copy(java.nio.file.Paths.get(golden("multi_db_carry.tr")), defaulted)
    graft.Tr2Png.main(Array(defaulted.toString))
    assert(Files.exists(dir.resolve("prog.png")))
  }

  test("Tr2Dot dumps the reference window program as DOT") {
    val (_, bytes) = withCapturedStdout {
      graft.Tr2Dot.main(Array(golden("window_after_10m.tr")))
    }
    val out = new String(bytes, "UTF-8")
    assert(out.startsWith("digraph trck {"))
    assert(out.contains("foreach %aeid in @arr"))
    assert(out.contains("window 600s"), out) // after 10m
    assert(out.contains("r0 -> r1"), "named transition resolves to the target rule")
    assert(out.contains("style=dashed"), "window-block rules render dashed")
    assert(out.contains("style=dotted"), "after edges render dotted")
    assert(!out.contains("\\\\n"), "DOT newline escapes must not be double-escaped")
  }

  private def writeTemp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-cli")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private val trProgram =
    """start ->
      |    receive
      |        event_type = "click" -> yield $clicks, repeat
      |        * -> repeat
      |""".stripMargin

  private val eventsJson =
    """{"u1": [{"timestamp": 100, "event_type": "click"},
      |        {"timestamp": 200, "event_type": "view"},
      |        {"timestamp": 300, "event_type": "click"}],
      | "u2": [{"timestamp": 150, "event_type": "click"}]}""".stripMargin

  test("CLI json output on the reference test format") {
    val prog = writeTemp("count.tr", trProgram)
    val input = writeTemp("db.json", eventsJson)
    val (_, out) = withCapturedStdout(Trck.main(Array(prog, input)))
    val text = new String(out, "UTF-8").trim
    assert(text == "{\"$clicks\":3}", text)
  }

  test("CLI msgpack output") {
    val prog = writeTemp("count.tr", trProgram)
    val input = writeTemp("db.json", eventsJson)
    val (_, out) = withCapturedStdout(
      Trck.main(Array(prog, "--output-format", "msgpack", input)))
    // {"$clicks": {"type":"int","value":3}}
    val hex = out.map(b => f"${b & 0xff}%02x").mkString
    val expected =
      "81" + "a7" + "$clicks".getBytes.map(b => f"$b%02x").mkString +
        "82" + "a4" + "type".getBytes.map(b => f"$b%02x").mkString +
        "a3" + "int".getBytes.map(b => f"$b%02x").mkString +
        "a5" + "value".getBytes.map(b => f"$b%02x").mkString + "03"
    assert(hex == expected, hex)
  }

  test("CLI proto output") {
    val prog = writeTemp("count.tr", trProgram)
    val input = writeTemp("db.json", eventsJson)
    val (_, out) = withCapturedStdout(
      Trck.main(Array(prog, "--output-format", "proto", input)))
    // 8-byte LE length (2) + counter_clicks=1 varint 3 -> 08 03
    val hex = out.map(b => f"${b & 0xff}%02x").mkString
    assert(hex == "0200000000000000" + "0803", hex)
  }

  test("CLI exclude-file and filter") {
    val prog = writeTemp("count.tr", trProgram)
    val input = writeTemp("db.json", eventsJson)
    val exclude = writeTemp("ex.txt", "u2\n")
    val (_, out) = withCapturedStdout(
      Trck.main(Array(prog, "--exclude-file", exclude, input)))
    assert(new String(out, "UTF-8").trim == "{\"$clicks\":2}")

    val (_, out2) = withCapturedStdout(
      Trck.main(Array(prog, "--filter",
        """{"clauses":[[{"field":"event_type","value":"view","op":"notequal"}]]}""", input)))
    assert(new String(out2, "UTF-8").trim == "{\"$clicks\":3}")
  }

  test("CLI --fcall-class runs a test_ffi-shaped program end-to-end (U1 CLI parity)") {
    // nested user fcalls in a yield, exactly the reference's test_ffi.tr
    // shape (outer_fn(x, inner_fn(x)) to a set) — but registered via
    // --fcall-class instead of a compiled sibling .tr.c
    val prog = writeTemp("ffi.tr",
      """start ->
        |    receive
        |        event_type = "click" -> yield outer_fn(inner_fn(event_type)) to #bar, repeat
        |        * -> repeat
        |""".stripMargin)
    val input = writeTemp("db.json",
      """{"u1": [{"timestamp": 100, "event_type": "click"}]}""")
    CliFfiModule.initialized = 0
    CliFfiModule.finalized = 0
    val (_, out) = withCapturedStdout(
      Trck.main(Array(prog, "--fcall-class", "graft.CliFfiModule", input)))
    assert(new String(out, "UTF-8").trim == "{\"#bar\":[\"outer_inner_click\"]}",
      new String(out, "UTF-8"))
    // lifecycle hooks fire exactly once around the run (reference:
    // src/match_traildb.c:1248,1256 main-scope initialize/finalize)
    assert(CliFfiModule.initialized == 1 && CliFfiModule.finalized == 1)
    // a typo'd class must fail loudly, not run silently without fcalls
    val err = intercept[IllegalArgumentException] {
      Trck.main(Array(prog, "--fcall-class", "graft.NoSuchModule", input))
    }
    assert(err.getMessage.contains("graft.NoSuchModule"), err.getMessage)
  }

  /** ddiff-style semantic compare of two reference-format dumps, with the
    * TrailDB data-model equivalence: an absent field ≡ the empty string
    * (bin/json2tdb:31 fills missing fields with '', so a round trip
    * materializes them — same as the reference's own json2tdb → tdb2json).
    */
  private def assertDumpEquivalent(expected: String, actual: String): Unit = {
    import org.json4s._
    def trails(s: String): Map[String, List[Map[String, String]]] =
      org.json4s.jackson.JsonMethods.parse(s) match {
        case JObject(ts) => ts.map { case (c, JArray(es)) =>
          c -> es.map {
            case JObject(fs) => fs.map {
              case (k, JString(v)) => k -> v
              case (k, JInt(v))    => k -> v.toString
              case (k, v)          => k -> v.toString
            }.toMap
            case e => fail(s"event must be an object: $e")
          }
        }.toMap
        case _ => fail("dump must be a cookie-format object")
      }
    val (exp, act) = (trails(expected), trails(actual))
    assert(exp.keySet == act.keySet, s"cookie sets differ: ${exp.keySet} vs ${act.keySet}")
    exp.foreach { case (cookie, expEvents) =>
      val actEvents = act(cookie)
      assert(expEvents.length == actEvents.length, s"$cookie event counts differ")
      expEvents.zip(actEvents).foreach { case (e, a) =>
        assert(e("timestamp") == a("timestamp"), s"$cookie timestamps differ: $e vs $a")
        (e.keySet ++ a.keySet - "timestamp").foreach { k =>
          assert(e.getOrElse(k, "") == a.getOrElse(k, ""),
            s"$cookie field $k differs: ${e.get(k)} vs ${a.get(k)}")
        }
      }
    }
  }

  test("Json2Tdb -> Tdb2Json round-trips a cookie-format fixture (json2tdb parity)") {
    val dir = Files.createTempDirectory("graft-json2tdb")
    // heterogeneous fields across events/trails: the round trip must fill
    // the union schema with "" exactly like the reference constructor
    val fixture =
      """{"u1": [{"timestamp": 100, "event_type": "click", "page": "home"},
        |        {"timestamp": 200, "event_type": "view"}],
        | "u2": [{"timestamp": 150, "color": "red"}]}""".stripMargin
    val in = writeTemp("rt.json", fixture)
    val out = dir.resolve("trails.parquet").toString
    Json2Tdb.main(Array(in, out))
    val (_, dumped) = withCapturedStdout(Tdb2Json.main(Array(out)))
    assertDumpEquivalent(fixture, new String(dumped, "UTF-8").trim)
    // and the promoted store runs the distributed engine: same counter as
    // the LocalRunner JSON path on the same fixture
    val prog = writeTemp("count.tr", trProgram)
    val (_, sparkOut) = withCapturedStdout(Trck.main(Array(prog, out)))
    assert(new String(sparkOut, "UTF-8").trim == "{\"$clicks\":1}",
      new String(sparkOut, "UTF-8"))
  }

  test("CLI over two parquet DBs equals the JSON path: min_ts cut, window file, fully-cut cookie") {
    // nested window blocks: an empty per-entry run mutates a fresh state,
    // so u2 (listed, present only in DB 2, every event below DB 1's max)
    // must still run DB 2's empty loop and finalize
    val prog = writeTemp("nested.tr",
      """start ->
        |    window
        |        mid ->
        |            window
        |                inner ->
        |                    receive
        |                        type = "conv" -> yield $conv, quit
        |                        * -> repeat
        |            after 100s -> yield $midexp, quit
        |    after 300s -> yield $outerexp, quit
        |""".stripMargin)
    val db1 = writeTemp("db1.json", """{"u1": [{"timestamp": 5000, "type": "x"}]}""")
    val db2 = writeTemp("db2.json",
      """{"u1": [{"timestamp": 6000, "type": "conv"}],
        | "u2": [{"timestamp": 1000, "type": "x"}]}""".stripMargin)
    val windows = writeTemp("windows.csv", "u1,0,0\nu2,0,0\n")
    val dir = Files.createTempDirectory("graft-cli-multidb")
    val parquets = Seq(db1, db2).zipWithIndex.map { case (in, i) =>
      val out = dir.resolve(s"db$i.parquet").toString
      Json2Tdb.main(Array(in, out))
      out
    }
    val (_, local) = withCapturedStdout(Trck.main(Array(prog, "--window-file", windows, db1, db2)))
    val (_, spark) = withCapturedStdout(
      Trck.main((Seq(prog, "--window-file", windows) ++ parquets).toArray))
    val localText = new String(local, "UTF-8")
    // u1 quits on conv, so the one $midexp is u2's empty run
    assert(localText.trim == "{\"$outerexp\":0,\"$midexp\":1,\"$conv\":1}", localText)
    assert(new String(spark, "UTF-8") == localText)
  }

  test("Json2Tdb simple format gets the all-zero cookie; bad timestamps fail loudly") {
    val dir = Files.createTempDirectory("graft-json2tdb-simple")
    val in = writeTemp("simple.json",
      """[{"timestamp": 10, "event_type": "click"}, {"timestamp": 20, "event_type": "view"}]""")
    val out = dir.resolve("simple.parquet").toString
    Json2Tdb.main(Array(in, out))
    val (_, dumped) = withCapturedStdout(Tdb2Json.main(Array(out)))
    assertDumpEquivalent(
      s"""{"${Json2Tdb.ZeroCookie}": [{"timestamp": 10, "event_type": "click"},
         |                            {"timestamp": 20, "event_type": "view"}]}""".stripMargin,
      new String(dumped, "UTF-8").trim)
    // reference constructor guard (bin/json2tdb:40-41): decreasing
    // per-trail timestamps must abort the conversion, not write a store
    val bad = writeTemp("bad.json",
      """{"u1": [{"timestamp": 200, "event_type": "a"}, {"timestamp": 100, "event_type": "b"}]}""")
    val err = intercept[IllegalArgumentException] {
      Json2Tdb.main(Array(bad, dir.resolve("never.parquet").toString))
    }
    assert(err.getMessage.contains("monotonically"), err.getMessage)
  }
}

/** Test fcall module loaded reflectively by the CLI spec — mirrors the
  * functions of /root/reference/test/tr/test_ffi.tr.c.
  */
object CliFfiModule extends graft.trck.FcallProvider {
  @volatile var initialized = 0
  @volatile var finalized = 0
  def module: graft.trck.Fsm.FcallModule = graft.trck.Fsm.FcallModule(
    fcalls = Map(
      "inner_fn" -> (a => "inner_" + a.head),
      "outer_fn" -> (a => "outer_" + a.head),
    ),
    onInitialize = () => initialized += 1,
    onFinalize = () => finalized += 1,
  )
}
