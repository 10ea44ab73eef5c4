package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayOutputStream, PrintStream}

/** The CLI front door against the fixture archive: each subcommand's
  * output must agree with the corresponding oracle-gated query
  * (index <-> w07, extract <-> w22, recompress <-> w23, verify <-> w03,
  * benchmark <-> w17's corpus scan).
  */
class CliSpec extends AnyFunSuite {

  private val Fixture = graft.sources.BenchCorpus.FixtureRaw
  private val FixtureGz = graft.sources.BenchCorpus.FixtureGz

  private def run(args: String*): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val ps = new PrintStream(bos, true, "UTF-8")
    val code = Cli.run(args.toArray, ps)
    ps.flush()
    (code, bos.toString("UTF-8"))
  }

  test("index emits one CDXJ line per record with the w07 offsets") {
    val (code, out) = run("index", Fixture, "--fields=offset,length,warc-type")
    assert(code == 0)
    val lines = out.trim.split("\n").toSeq
    assert(lines.size == 50)
    // first three records match the w07 oracle's pinned rows
    assert(lines(0) == """{"offset": 0, "length": 764, "warc-type": "warcinfo"}""")
    assert(lines(1) == """{"offset": 764, "length": 664, "warc-type": "request"}""")
    assert(lines(2) == """{"offset": 1428, "length": 37164, "warc-type": "response"}""")
  }

  test("index resolves http: fields") {
    val (code, out) = run("index", Fixture,
      "--fields=offset,http:status,http:last-modified")
    assert(code == 0)
    val lines = out.trim.split("\n").toSeq
    assert(lines.size == 50)
    // 16 responses with an HTTP status; 5 of them carry Last-Modified
    assert(lines.count(_.contains("\"http:status\"")) == 16)
    assert(lines.count(_.contains("\"http:last-modified\"")) == 5)
  }

  test("extract dumps the record at a CDXJ offset") {
    val (code, out) = run("extract", Fixture, "1428", "--headers")
    assert(code == 0)
    assert(out.contains("WARC-Type: response"))
    assert(out.contains("WARC-Target-URI:"))
  }

  test("extract at a bogus offset fails cleanly") {
    val (code, _) = run("extract", Fixture, "999999999")
    assert(code == 1)
  }

  test("recompress round-trips all records with fresh digests") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toFile
    val outPath = new java.io.File(dir, "re.warc.gz").getAbsolutePath
    val (code, out) = run("recompress", FixtureGz, outPath,
      "--codec=gzip", "--checksum")
    assert(code == 0)
    assert(out.contains("50 records"))
    // the recompressed archive verifies end to end
    val (vcode, vout) = run("verify", outPath)
    assert(vcode == 0, vout)
    assert(vout.contains("50 records: 50 verified, 0 failed"))
  }

  test("recompress to zstd (plain and trained-dict) round-trips; " +
      "index --members walks the zstd frames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_zst").toFile
    val plain = new java.io.File(dir, "re.warc.zst").getAbsolutePath
    val (code, out) = run("recompress", FixtureGz, plain,
      "--codec=zstd", "--checksum")
    assert(code == 0 && out.contains("50 records"), out)
    val (vcode, vout) = run("verify", plain)
    assert(vcode == 0 && vout.contains("50 records: 50 verified, 0 failed"), vout)
    // member walk without decompression
    val (icode, iout) = run("index", plain, "--members")
    assert(icode == 0 && iout.contains("50 members (zstd)"), iout)
    // trained dictionary form
    val dicted = new java.io.File(dir, "dict.warc.zst").getAbsolutePath
    val (dcode, dout) = run("recompress", FixtureGz, dicted, "--zstd-dict")
    assert(dcode == 0 && dout.contains("trained dictionary"), dout)
    val (v2code, v2out) = run("verify", dicted)
    assert(v2code == 0 && v2out.contains("50 records"), v2out)
  }

  test("dict-train emits a reusable dictionary artifact; recompress " +
      "--dict applies it without a training pass and the archive " +
      "point-reads through it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_dict").toFile
    val dictPath = new java.io.File(dir, "fixture.zstd-dict").getAbsolutePath
    val (tcode, tout) = run("dict-train", FixtureGz, dictPath)
    assert(tcode == 0 && tout.contains("trained dictionary"), tout)
    val dictBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dictPath))
    assert(dictBytes.length > 1000, s"dictionary too small: ${dictBytes.length}")
    // train once, apply elsewhere (the 100 TB shape): recompress with
    // the PRE-TRAINED artifact, no second training pass
    val outPath = new java.io.File(dir, "reuse.warc.zst").getAbsolutePath
    val (rcode, rout) = run("recompress", FixtureGz, outPath, s"--dict=$dictPath")
    assert(rcode == 0 && rout.contains("pre-trained dictionary"), rout)
    val (vcode, vout) = run("verify", outPath)
    assert(vcode == 0 && vout.contains("50 records"), vout)
    // the written archive leads with the dictionary frame and a
    // mid-archive member decodes against it via point lookup
    val (icode, iout) = run("index", outPath, "--members",
      "--fields=offset,warc-type")
    assert(icode == 0, iout)
    val offs = graft.core.MemberIndex.scan(
      new java.io.FileInputStream(outPath)).offsets
    assert(offs.size == 50)
    val rec = graft.core.WarcPointLookup.extract(outPath, offs(20))
    assert(rec.isDefined, "mid-archive point read through the dict failed")
  }

  test("verify reports the fixture's digested responses") {
    val (code, out) = run("verify", Fixture)
    assert(code == 0, out)
    // 16 responses carry digests (w03); the other 34 records have none
    assert(out.contains("50 records: 16 verified, 0 failed, 34 without digests"))
  }

  test("benchmark scans and reports throughput") {
    val (code, out) = run("benchmark", FixtureGz, "--filter-type=response")
    assert(code == 0)
    assert(out.contains("16 records"))
  }

  test("html benchmark parses every response and counts titles") {
    val (code, out) = run("html", "benchmark", FixtureGz)
    assert(code == 0)
    // 16 response records in the fixture; every parse must complete
    assert(out.contains("16 documents"), out)
    assert(out.contains("documents/s"), out)
  }

  test("bad usage exits 2") {
    assert(run()._1 == 2)
    assert(run("frobnicate")._1 == 2)
    assert(run("extract", Fixture)._1 == 2)
    assert(run("html", "frobnicate", FixtureGz)._1 == 2)
  }

  test("every subcommand accepts object-store URLs (testfs:// via the " +
      "Hadoop FS SPI): index --members writes a remote sidecar, extract " +
      "seeks remotely, verify/benchmark stream, dict-train + recompress " +
      "--dict round-trip remote in/out") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_fs").toFile
    val src = new java.io.File(dir, "remote.warc.gz")
    java.nio.file.Files.copy(java.nio.file.Paths.get(FixtureGz), src.toPath)
    val url = s"testfs://${src.getAbsolutePath}"
    // verify + benchmark stream through the scheme
    val (vcode, vout) = run("verify", url)
    assert(vcode == 0 && vout.contains("50 records"), vout)
    val (bcode, bout) = run("benchmark", url, "--filter-type=response")
    assert(bcode == 0 && bout.contains("16 records"), bout)
    // index --members leaves the sidecar AT THE REMOTE PREFIX
    val (icode, iout) = run("index", url, "--members")
    assert(icode == 0 && iout.contains("50 members"), iout)
    assert(new java.io.File(dir, "remote.warc.gz.idx").exists(),
      "sidecar not committed next to the remote object")
    // atomic commit discipline: the dot-tmp staging file was renamed
    // away, not left as debris (a partially written sidecar must never
    // be observable at the final path — IdxSlice plans from its length)
    assert(!dir.listFiles().exists(f =>
      f.getName.startsWith(".remote.warc.gz.idx.") && f.getName.endsWith(".tmp")),
      s"tmp debris left behind: ${dir.listFiles().map(_.getName).mkString(",")}")
    // extract: a mid-archive offset from the sidecar, read via seek
    val offs = graft.core.MemberIndex.scan(
      new java.io.FileInputStream(src)).offsets
    val (ecode, eout) = run("extract", url, offs(20).toString, "--headers")
    assert(ecode == 0 && eout.contains("WARC-Type:"), eout)
    // dictionary lifecycle with remote input AND remote outputs
    val dictUrl = s"testfs://${dir.getAbsolutePath}/remote.dict"
    val (tcode, tout) = run("dict-train", url, dictUrl)
    assert(tcode == 0 && tout.contains("trained dictionary"), tout)
    val outUrl = s"testfs://${dir.getAbsolutePath}/reuse.warc.zst"
    // --dict resolves through the scheme too: train once remotely,
    // apply from the remote artifact
    val (rcode, rout) = run("recompress", url, outUrl, s"--dict=$dictUrl")
    assert(rcode == 0 && rout.contains("pre-trained dictionary"), rout)
    val (v2code, v2out) = run("verify", outUrl)
    assert(v2code == 0 && v2out.contains("50 records"), v2out)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
