package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{KernelOnce, WarcHeaderGet}

/** SQL-surface registration (`spark.sql.extensions=graft.GraftExtensions`):
  * exposes the engine's kernels to plain SQL, so a pure-SQL user can run
  * the reference's workloads without touching the Scala API —
  *
  *  - `warc_header(headers, 'WARC-Target-URI')` (last occurrence, the
  *    Python-facing reference semantics), `warc_header_first(...)`;
  *  - `extract_plain_text(body, charset)` / `detect_lang(text)` — the
  *    native codegen expressions (graft.plans.*), injected directly;
  *  - text-pipeline kernels (`token_count`, `quality_score`,
  *    `doc_fingerprint`, `simhash64`) — Column-level kernels re-exposed
  *    through [[org.apache.spark.sql.GraftColumnBridge]], so SQL gets
  *    the exact expression tree (and codegen behavior) the DataFrame
  *    API builds.
  *
  * It also registers the physical rule [[graft.plans.KernelOnce]], which
  * evaluates each costly kernel once per row even where predicate
  * pushdown copied it into a Filter.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litName(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: header name must be a string literal, got $other")
  }

  /** Adapt a Column-level kernel into a FunctionRegistry builder: wrap
    * the argument expressions as Columns, apply the kernel, unwrap.
    */
  private def viaColumns(name: String, arity: Int)(
      fn: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)(
      args: Seq[Expression]): Expression = {
    require(args.length == arity, s"$name expects $arity argument(s)")
    org.apache.spark.sql.GraftColumnBridge.expression(
      fn(args.map(org.apache.spark.sql.GraftColumnBridge.column)))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    import graft.functions.TextAnalysis
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = KernelOnce
    })
    def inject(name: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))

    inject("warc_header") { args =>
      require(args.length == 2, "warc_header(headers, name)")
      WarcHeaderGet(args.head, litName(args(1), "warc_header"), first = false)
    }
    inject("warc_header_first") { args =>
      require(args.length == 2, "warc_header_first(headers, name)")
      WarcHeaderGet(args.head, litName(args(1), "warc_header_first"), first = true)
    }
    inject("extract_plain_text") { args =>
      require(args.length == 2, "extract_plain_text(body, charset)")
      graft.plans.ExtractPlainTextExpr(args.head, args(1),
        mainContent = false, maxNodes = Int.MaxValue)
    }
    inject("detect_lang") { args =>
      require(args.length == 1, "detect_lang(text)")
      graft.plans.DetectLangExpr(args.head)
    }
    inject("token_count")(
      viaColumns("token_count", 1)(as => TextAnalysis.tokenCount(as.head)))
    inject("quality_score")(
      viaColumns("quality_score", 1)(as => TextAnalysis.qualityScore(as.head)))
    inject("doc_fingerprint")(
      viaColumns("doc_fingerprint", 1)(as => TextAnalysis.fingerprint(as.head)))
    inject("simhash64")(
      viaColumns("simhash64", 1)(as => TextAnalysis.simhash64(as.head)))
    inject("nfc_normalize") { args =>
      require(args.length == 1, "nfc_normalize(text)")
      graft.plans.NfcNormalizeExpr(args.head)
    }
    inject("blocklist_counts") { args =>
      // blocklist_counts(text, 'term1', 'term2', ...) -> array<long>
      require(args.length >= 2,
        "blocklist_counts(text, term [, term ...]) — terms are string literals")
      val terms = args.tail.map {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case other => throw new IllegalArgumentException(
          s"blocklist_counts: terms must be string literals, got $other")
      }
      graft.plans.BlocklistCountsExpr(args.head, terms)
    }
    inject("jpeg_pixel_grid")(
      viaColumns("jpeg_pixel_grid", 2)(as =>
        graft.functions.Multimodal.jpegPixelGrid(as.head, as(1))))
    // encoding / content kernels: the pure-SQL crawl-processing surface
    inject("detect_encoding")(
      viaColumns("detect_encoding", 1)(as => graft.functions.Web.detectEncoding(as.head)))
    inject("detect_mime")(
      viaColumns("detect_mime", 1)(as => graft.functions.Web.detectMime(as.head)))
    inject("bytes_to_str")(
      viaColumns("bytes_to_str", 1)(as => graft.functions.Web.decodeText(as.head)))
    inject("html_title")(
      viaColumns("html_title", 2)(as => graft.functions.Web.htmlTitle(as.head, as(1))))
    inject("extract_links")(
      viaColumns("extract_links", 3)(as =>
        graft.functions.Web.extractLinks(as.head, as(1), as(2))))
    // dedup / similarity kernels
    inject("minhash_signature") { args =>
      require(args.length == 2, "minhash_signature(shingles, k)")
      val k = args(1) match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"minhash_signature: k must be an int literal, got $other")
      }
      org.apache.spark.sql.GraftColumnBridge.expression(
        TextAnalysis.minhashSignature(
          org.apache.spark.sql.GraftColumnBridge.column(args.head), k))
    }
    inject("cosine_sim")(
      viaColumns("cosine_sim", 2)(as =>
        graft.functions.Similarity.cosine(as.head, as(1))))
    inject("canonical_url")(
      viaColumns("canonical_url", 1)(as =>
        graft.functions.Web.canonicalUrl(as.head)))
    inject("jpeg_dhash")(
      viaColumns("jpeg_dhash", 1)(as =>
        graft.functions.Multimodal.jpegDhash(as.head)))
    inject("image_dhash")(
      viaColumns("image_dhash", 1)(as =>
        graft.functions.Multimodal.imageDhash(as.head)))
    inject("audio_fingerprint") { args =>
      require(args.length == 2, "audio_fingerprint(payload, window_frames)")
      val w = args(1) match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"audio_fingerprint: window_frames must be an int literal, got $other")
      }
      org.apache.spark.sql.GraftColumnBridge.expression(
        graft.functions.Multimodal.audioFingerprint(
          org.apache.spark.sql.GraftColumnBridge.column(args.head), w))
    }
    inject("image_resize") { args =>
      require(args.length == 3, "image_resize(payload, out_w, out_h)")
      def intLit(e: Expression, n: String): Int = e match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"image_resize: $n must be an int literal, got $other")
      }
      org.apache.spark.sql.GraftColumnBridge.expression(
        graft.functions.Multimodal.imageResize(
          org.apache.spark.sql.GraftColumnBridge.column(args.head),
          intLit(args(1), "out_w"), intLit(args(2), "out_h")))
    }
    inject("mjpeg_frame_dhash") { args =>
      require(args.length == 2, "mjpeg_frame_dhash(payload, n_frames)")
      val n = args(1) match {
        case Literal(i: Int, _) => i
        case other => throw new IllegalArgumentException(
          s"mjpeg_frame_dhash: n_frames must be an int literal, got $other")
      }
      org.apache.spark.sql.GraftColumnBridge.expression(
        graft.functions.Multimodal.aviFrameDhashes(
          org.apache.spark.sql.GraftColumnBridge.column(args.head), n))
    }
  }
}
