#!/usr/bin/env python
"""Regenerate / audit the self-pinned VALUES oracles.

Seven oracle rows are "self-pinned": their DuckDB SQL is a static VALUES
literal recording the deterministic output of this engine's own kernels
(ICU charset detection, the decode ladder, HTML extraction and the
end-to-end pipeline totals) over fixed inputs:

    w09_warc_mime  w10_warc_encodings  w11_warc_decoded_text
    w16_warc_langs w19_html_extract10k w29_training_pipeline  w30_link_graph

(t04/t05/t06 were converted to COMPUTED oracles in round 5: their DuckDB
SQL re-implements the detector's vectorizer and L1-argmin from scratch
with only the published profile constants inlined — see strToVecSql /
detectPredsSql in Documents.scala. The `reference` subcommand below still
emits their blocks for cross-checking against the reference library.)

Those pins are regression locks, not independent ground truth. This script
closes the audit loop two ways:

  from-verify <verifyOutDir>
      Reads the parquet each query wrote (graft.Verify output), re-emits
      the VALUES SQL in exactly the format checked into the Scala sources,
      and drift-checks it against the pin recorded in oracle_sql.json by
      executing both in DuckDB. Use after a jar upgrade (e.g. ICU): if a
      pin reports DRIFT, paste the emitted block over the stale one.

  reference [--warc PATH] [--docs PATH]
      Derives the same histograms from the REFERENCE library itself
      (fastwarc + resiliparse) so the pins can be compared against true
      reference behavior. Requires `pip install fastwarc resiliparse`
      (Cython; not importable in the offline sandbox — run this wherever
      the reference is installed). Prints the same VALUES blocks.

NOT part of the Scala library — dev tooling only.
"""
import argparse
import glob
import io
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# where graft.sources.BenchCorpus.FixtureDir builds the plain fixture
# (java.io.tmpdir/graft_fixtures)
FIXTURE_WARC = os.path.join(tempfile.gettempdir(), "graft_fixtures", "warcfile.warc")
PINNED = [
    "w09_warc_mime", "w10_warc_encodings", "w11_warc_decoded_text",
    "w16_warc_langs", "w19_html_extract10k", "w29_training_pipeline",
    "w30_link_graph", "w31_wet_export",
]
PIN_FILES = {  # where each pin lives, for the paste instruction
    "w": "src/main/scala/graft/queries/Warc.scala",
    "t": "src/main/scala/graft/queries/Documents.scala",
}


def sq(v):
    return "'" + str(v).replace("'", "''") + "'"


def tuples(rows, per_line=1):
    parts = ["(" + ", ".join(r) + ")" for r in rows]
    lines, cur = [], []
    for p in parts:
        cur.append(p)
        if len(cur) == per_line:
            lines.append(",".join(cur)); cur = []
    if cur:
        lines.append(",".join(cur))
    return ",\n         ".join(lines)


def fmt_hist(df, key, n_col="n"):
    """key/count histogram pin: SELECT key, CAST(n AS BIGINT) AS n ..."""
    rows = [(sq(r[key]), str(int(r[n_col])))
            for _, r in df.sort_values(key).iterrows()]
    return (f"SELECT {key}, CAST(n AS BIGINT) AS n FROM (VALUES\n"
            f"         {tuples(rows, per_line=4)}) t({key}, n)\n"
            f"         ORDER BY {key}")


def fmt_w11(df):
    r = df.iloc[0]
    return (f"SELECT CAST({int(r['total_chars'])} AS BIGINT) AS total_chars, "
            f"CAST({int(r['n'])} AS BIGINT) AS n")


def fmt_t04(df):
    rows = [(sq(r["lang"]), sq(r["pred_lang"]), str(int(r["n"])))
            for _, r in df.sort_values(["lang", "pred_lang"]).iterrows()]
    return ("SELECT lang, pred_lang, CAST(n AS BIGINT) AS n FROM (VALUES\n"
            f"         {tuples(rows, per_line=5)})\n"
            "         t(lang, pred_lang, n) ORDER BY lang, pred_lang")


def fmt_t05(df):
    rows = [(sq(r["lang"]), str(int(r["v0"])), str(int(r["v1"])),
             str(int(r["vsum"])))
            for _, r in df.sort_values("lang").iterrows()]
    return ("SELECT lang, CAST(v0 AS INT) AS v0, CAST(v1 AS INT) AS v1,\n"
            "         CAST(vsum AS BIGINT) AS vsum FROM (VALUES\n"
            f"         {tuples(rows, per_line=4)}) t(lang, v0, v1, vsum) "
            "ORDER BY lang")


def fmt_t06(df):
    def f6(x):
        s = f"{x:.6f}".rstrip("0")
        return s + "0" if s.endswith(".") else s
    rows = [(sq(r["lang"]), str(int(r["support"])), str(int(r["tp"])),
             str(int(r["n_pred"])), f6(r["precision"]), f6(r["recall"]),
             f6(r["f1"]))
            for _, r in df.sort_values("lang").iterrows()]
    return ("SELECT lang, CAST(support AS BIGINT) AS support, CAST(tp AS BIGINT) AS tp,\n"
            "         CAST(n_pred AS BIGINT) AS n_pred, CAST(precision AS DOUBLE) AS precision,\n"
            "         CAST(recall AS DOUBLE) AS recall, CAST(f1 AS DOUBLE) AS f1 FROM (VALUES\n"
            f"         {tuples(rows, per_line=1)})\n"
            "         t(lang, support, tp, n_pred, precision, recall, f1) ORDER BY lang")


def fmt_single_row_bigints(df):
    """One-row pin of BIGINT counters (w19, w29): emit column order as-is."""
    r = df.iloc[0]
    cols = [f"CAST({int(r[c])} AS BIGINT) AS {c}" for c in df.columns]
    return "SELECT " + ",\n         ".join(cols)


FORMATTERS = {
    "w09_warc_mime": lambda df: fmt_hist(df, "mime"),
    "w10_warc_encodings": lambda df: fmt_hist(df, "enc"),
    "w11_warc_decoded_text": fmt_w11,
    "w16_warc_langs": lambda df: fmt_hist(df, "lang"),
    "t04_lang_detect": fmt_t04,
    "t05_train_vectors": fmt_t05,
    "t06_lang_metrics": fmt_t06,
    "w19_html_extract10k": fmt_single_row_bigints,
    "w29_training_pipeline": fmt_single_row_bigints,
    "w30_link_graph": fmt_single_row_bigints,
    "w31_wet_export": fmt_single_row_bigints,
}


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def from_verify(out_dir):
    import duckdb
    import pandas as pd
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    n_drift = 0
    for name in PINNED:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"SKIP {name}: no Verify output in {out_dir}")
            continue
        df = pd.concat([pd.read_parquet(f) for f in files])
        new_sql = FORMATTERS[name](df)
        pinned_sql = oracle.get(name)
        status = "NO-PIN"
        if pinned_sql is not None:
            try:
                pin_df = canon(con.execute(pinned_sql).df())
                eng_df = canon(con.execute(new_sql).df())
                drift = not pin_df.astype(str).equals(eng_df.astype(str))
            except Exception as e:
                print(f"ERROR {name}: pin SQL failed in DuckDB: {e}")
                drift = True
            status = "DRIFT" if drift else "OK"
        n_drift += status == "DRIFT"
        print(f"[{status:>5}] {name}")
        if status != "OK":
            where = PIN_FILES[name[0]]
            print(f"  paste into {where}:")
            print('    """' + new_sql + '""",')
    if n_drift:
        print(f"\n{n_drift} pin(s) drifted — engine kernels changed "
              "(jar upgrade?) or a regression. Update pins only after "
              "confirming the new values are intended.")
    return 1 if n_drift else 0


# --- reference mode -------------------------------------------------------
# Mirrors the Spark queries' semantics (see graft/queries/Warc.scala and
# Documents.scala):
#   w09: detect_mime(http response body)          histogram over responses
#   w10: detect_encoding(body, from_html_meta=True)     — same filter
#   w11: sum(len(bytes_to_str(body, w10-encoding))), count
#   w16: detect_fast(extract_plain_text(html, main_content=True))[0]
#   t04: detect_fast(text)[0] per documents row, grouped (lang, pred)
#   t05: train_language_examples(texts-of-lang) -> v0, v1, sum(vec)
#   t06: precision/recall/F1 derived from t04's confusion matrix

def reference_mode(warc_path, docs_path):
    try:
        from fastwarc.warc import ArchiveIterator, WarcRecordType
        from resiliparse.parse.encoding import (
            detect_encoding, bytes_to_str, detect_mime)
        from resiliparse.parse.lang import detect_fast, train_language_examples
        from resiliparse.extract.html2text import extract_plain_text
    except ImportError as e:
        print("reference mode needs fastwarc + resiliparse installed "
              f"(pip install fastwarc resiliparse): {e}", file=sys.stderr)
        return 2
    import pandas as pd

    bodies = []
    with open(warc_path, "rb") as f:
        for rec in ArchiveIterator(f, record_types=WarcRecordType.response,
                                   parse_http=True):
            bodies.append(rec.reader.read())

    mimes = pd.DataFrame({"mime": [detect_mime(b) for b in bodies]})
    mimes = mimes.value_counts().rename("n").reset_index()
    print("-- w09_warc_mime (reference)")
    print(fmt_hist(mimes, "mime"), "\n")

    encs = [detect_encoding(b, from_html_meta=True) for b in bodies]
    enc_df = pd.DataFrame({"enc": encs}).value_counts().rename("n").reset_index()
    print("-- w10_warc_encodings (reference)")
    print(fmt_hist(enc_df, "enc"), "\n")

    texts = [bytes_to_str(b, e) for b, e in zip(bodies, encs)]
    w11 = pd.DataFrame([{"total_chars": sum(len(t) for t in texts),
                         "n": len(texts)}])
    print("-- w11_warc_decoded_text (reference)")
    print(fmt_w11(w11), "\n")

    langs = [detect_fast(extract_plain_text(t, main_content=True))[0]
             for t in texts]
    lang_df = pd.DataFrame({"lang": langs}).value_counts().rename("n").reset_index()
    print("-- w16_warc_langs (reference)")
    print(fmt_hist(lang_df, "lang"), "\n")

    if docs_path and os.path.exists(docs_path):
        docs = pd.read_parquet(docs_path)[["doc_id", "lang", "text"]]
        docs["pred_lang"] = [detect_fast(t)[0] for t in docs["text"]]
        t04 = (docs.groupby(["lang", "pred_lang"]).size().rename("n")
               .reset_index())
        print("-- t04_lang_detect (reference)")
        print(fmt_t04(t04), "\n")

        rows = []
        for lang, grp in docs.groupby("lang"):
            vec = train_language_examples(list(grp["text"]))
            rows.append({"lang": lang, "v0": vec[0], "v1": vec[1],
                         "vsum": sum(vec)})
        print("-- t05_train_vectors (reference)")
        print(fmt_t05(pd.DataFrame(rows)), "\n")

        sup = docs.groupby("lang").agg(
            support=("lang", "size"),
            tp=("pred_lang", lambda s: int((s == s.name).sum()))).reset_index()
        np_ = docs.groupby("pred_lang").size().rename("n_pred")
        t06 = sup.join(np_, on="lang").fillna({"n_pred": 0})
        t06["n_pred"] = t06["n_pred"].astype(int)
        t06["precision"] = (t06["tp"] / t06["n_pred"].where(t06["n_pred"] > 0)
                            ).fillna(0.0).round(6)
        t06["recall"] = (t06["tp"] / t06["support"]).round(6)
        pr = t06["precision"] + t06["recall"]
        t06["f1"] = (2 * t06["precision"] * t06["recall"] / pr.where(pr > 0)
                     ).fillna(0.0).round(6)
        print("-- t06_lang_metrics (reference)")
        print(fmt_t06(t06), "\n")
    else:
        print(f"-- t04/t05/t06 skipped: documents parquet not found "
              f"({docs_path})")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="mode", required=True)
    fv = sub.add_parser("from-verify",
                        help="regen + drift-check pins from Verify output")
    fv.add_argument("out_dir", help="graft.Verify output directory")
    rf = sub.add_parser("reference",
                        help="derive pins from fastwarc/resiliparse")
    rf.add_argument("--warc", default=FIXTURE_WARC,
                    help="plain fixture archive (default: %(default)s)")
    rf.add_argument("--docs",
                    default="/root/testdata/sf0.01/documents.parquet")
    args = ap.parse_args()
    if args.mode == "from-verify":
        sys.exit(from_verify(args.out_dir))
    if not os.path.exists(args.warc):
        sys.exit(f"{args.warc} not found. graft.sources.BenchCorpus.FixtureDir "
                 "builds it on first use from the in-repo warcfile.warc.br; "
                 "run any spec that touches FixtureDir, e.g. "
                 "sbt \"testOnly graft.sources.FixtureSetSpec\", or pass --warc PATH")
    sys.exit(reference_mode(args.warc, args.docs))


if __name__ == "__main__":
    main()
