package graft.tools

import graft.core._
import java.io.FileInputStream

/** Dev: enumerate the fixture archive's 50 records with the engine's
  * detected encoding per payload — the generator for the 50/50 verdict
  * table pinned in EncodingDivergenceSpec.
  *   sbt "Test/runMain graft.tools.EncodingAudit"
  */
object EncodingAudit {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(graft.sources.BenchCorpus.FixtureRaw)
    val in = new FileInputStream(path)
    val parser = new WarcParser(new WarcByteReader(in), path,
      WarcParseOptions(parseHttp = true))
    try parser.foreach { rec =>
      val payload = rec.http.map(_.body).getOrElse(rec.content)
      val declared = rec.http.flatMap(_.charset).getOrElse("-")
      val detected = Encodings.detectEncoding(payload).getOrElse("-")
      println(s"${rec.offset}\t${rec.recordType}\t${payload.length}\t" +
        s"$declared\t$detected")
    } finally in.close()
  }
}
