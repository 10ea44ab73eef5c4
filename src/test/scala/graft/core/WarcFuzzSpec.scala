package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Random-mutation fuzz of the WARC parser over the real fixture bytes:
  * truncations, byte flips, and slice deletions anywhere in the archive
  * (and inside the gzip container) must NEVER throw out of the
  * iterator — damage surfaces as error-annotated records or early
  * stream end, the exc_loop doctrine the targeted corruption tests pin
  * case by case (WarcParserSpec "clipped", WarcSourceSpec "mid-stream
  * decompression corruption"). Deterministic seed; the mutation recipe
  * is printed on failure for minimization.
  */
class WarcFuzzSpec extends AnyFunSuite {

  private val raw = java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(graft.sources.BenchCorpus.FixtureRaw))
  private val gz = java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(graft.sources.BenchCorpus.FixtureGz))

  private def parseAll(bytes: Array[Byte], recipe: String): (Int, Int) = {
    val parser = new WarcParser(
      new WarcByteReader(WarcCodecs.open(
        new java.io.ByteArrayInputStream(bytes))._1),
      "fuzz", WarcParseOptions(parseHttp = true))
    var n = 0
    var errors = 0
    try parser.foreach { rec =>
      n += 1
      if (rec.error.isDefined) errors += 1
      assert(n <= 60, s"runaway record synthesis under $recipe")
    } catch {
      case e: Throwable =>
        fail(s"parser threw ${e.getClass.getSimpleName}: ${e.getMessage} under $recipe")
    }
    (n, errors)
  }

  test("uncompressed archive: 300 truncate/flip/delete mutants never throw") {
    val rnd = new java.util.Random(0x5eed01)
    for (iter <- 0 until 300) {
      val (bytes, recipe) = rnd.nextInt(3) match {
        case 0 =>
          val cut = rnd.nextInt(raw.length)
          (raw.take(cut), s"truncate@$cut")
        case 1 =>
          val b = raw.clone()
          val flips = 1 + rnd.nextInt(8)
          val at = Seq.fill(flips)(rnd.nextInt(b.length))
          at.foreach(i => b(i) = (b(i) ^ (1 + rnd.nextInt(255))).toByte)
          (b, s"flip@${at.mkString(",")}")
        case _ =>
          val a = rnd.nextInt(raw.length)
          val len = 1 + rnd.nextInt(4096)
          (raw.take(a) ++ raw.drop(math.min(raw.length, a + len)),
            s"delete@$a+$len")
      }
      val (n, _) = parseAll(bytes, s"iter $iter $recipe")
      assert(n <= 51, s"more records than the archive holds: $n (iter $iter $recipe)")
    }
  }

  test("gzip container: 300 mutants inside the compressed stream never throw") {
    val rnd = new java.util.Random(0x5eed02)
    for (iter <- 0 until 300) {
      val (bytes, recipe) = rnd.nextInt(3) match {
        case 0 =>
          val cut = rnd.nextInt(gz.length)
          (gz.take(cut), s"truncate@$cut")
        case 1 =>
          val b = gz.clone()
          val i = rnd.nextInt(b.length)
          b(i) = (b(i) ^ (1 + rnd.nextInt(255))).toByte
          (b, s"flip@$i")
        case _ =>
          val a = rnd.nextInt(gz.length)
          val len = 1 + rnd.nextInt(512)
          (gz.take(a) ++ gz.drop(math.min(gz.length, a + len)),
            s"delete@$a+$len")
      }
      parseAll(bytes, s"iter $iter $recipe")
    }
  }

  test("lz4 container: 300 mutants through the from-scratch frame decoder " +
      "never throw") {
    val lz4 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.sources.BenchCorpus.FixtureLz4))
    val rnd = new java.util.Random(0x5eed03)
    for (iter <- 0 until 300) {
      val (bytes, recipe) = rnd.nextInt(3) match {
        case 0 =>
          val cut = rnd.nextInt(lz4.length)
          (lz4.take(cut), s"truncate@$cut")
        case 1 =>
          val b = lz4.clone()
          val i = rnd.nextInt(b.length)
          b(i) = (b(i) ^ (1 + rnd.nextInt(255))).toByte
          (b, s"flip@$i")
        case _ =>
          val a = rnd.nextInt(lz4.length)
          val len = 1 + rnd.nextInt(512)
          (lz4.take(a) ++ lz4.drop(math.min(lz4.length, a + len)),
            s"delete@$a+$len")
      }
      parseAll(bytes, s"iter $iter $recipe")
    }
  }

  test("undamaged control parses all 50 in both containers") {
    assert(parseAll(raw, "control-raw") == ((50, 0)))
    assert(parseAll(gz, "control-gz") == ((50, 0)))
  }
}
