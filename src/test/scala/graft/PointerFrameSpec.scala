package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SinkFs

/** Property tests for the CRC pointer frame — the reader-side half of
  * the no-atomic-rename commit protocol: a COMPLETE framed payload
  * always unframes to its content, and NO truncation of one (the torn
  * states an overwrite-in-place reader can observe) ever passes
  * validation as a different payload. An unframed payload — a pointer
  * only earlier builds wrote — never validates at all.
  */
class PointerFrameSpec extends AnyFunSuite {

  test("roundtrip: frame then unframe returns the content (both modes)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val singleLine = Gen.asciiPrintableStr.map(_.take(200))
    val prop = Prop.forAll(singleLine) { s =>
      SinkFs.unframe(SinkFs.frame(s)).map(_.trim) == Some(s.trim)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
    // and through both pointer protocols: atomic rename and the framed
    // overwrite-in-place of no-atomic-rename schemes
    val dir = java.nio.file.Files.createTempDirectory("frame-rt").toString
    val pointer = new org.apache.hadoop.fs.Path(dir, "CURRENT")
    for (atomic <- Seq("true", "false")) {
      val old = sys.props.get("graft.sink.rename.atomic")
      sys.props("graft.sink.rename.atomic") = atomic
      try for (c <- Seq("v0", "m12.manifest")) {
        SinkFs.swapPointer(pointer, "CURRENT.tmp", c)
        assert(SinkFs.readPointer(pointer) == c, s"atomic=$atomic")
      } finally old match {
        case Some(v) => sys.props("graft.sink.rename.atomic") = v
        case None => sys.props -= "graft.sink.rename.atomic"
      }
    }
  }

  test("no strict-mode truncation of a framed payload ever validates " +
      "as a DIFFERENT payload — a torn read is either rejected or " +
      "yields the exact committed content (a cut that loses only the " +
      "trailing newline is the one complete-content case)") {
    for (content <- Seq("v0", "v12345", "m7.manifest", "m999999.manifest")) {
      val framed = SinkFs.frame(content)
      for (cut <- 0 until framed.length) {
        val torn = framed.substring(0, cut)
        val un = SinkFs.unframe(torn)
        assert(un.isEmpty || un.map(_.trim).contains(content),
          s"torn prefix of length $cut validated as a DIFFERENT " +
            s"payload: '$torn' -> $un")
      }
    }
  }

  test("unframed pointer payloads are refused, never read verbatim") {
    for (legacy <- Seq("v3", "m42.manifest"))
      assert(SinkFs.unframe(legacy).isEmpty)
    // on an atomic-rename scheme (an unframed payload there cannot be a
    // torn write) the pointer read refuses it at once, naming the dir
    val dir = java.nio.file.Files.createTempDirectory("unframed")
    java.nio.file.Files.writeString(dir.resolve("CURRENT"), "m42.manifest")
    val e = intercept[IllegalStateException](SinkFs.readPointer(
      new org.apache.hadoop.fs.Path(dir.toString, "CURRENT")))
    assert(e.getMessage.contains(dir.toString) &&
      e.getMessage.contains("re-materialize"), e.getMessage)
  }

  test("any single-character corruption of a framed payload is rejected " +
      "in strict mode") {
    val framed = SinkFs.frame("v123")
    for (i <- 0 until framed.length) {
      val corrupted = framed.updated(i,
        if (framed(i) == 'x') 'y' else 'x')
      assert(SinkFs.unframe(corrupted).isEmpty,
        s"single-char corruption at $i validated")
    }
  }
}
