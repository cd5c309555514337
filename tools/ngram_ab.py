#!/usr/bin/env python
"""A/B for the r9-verdict-#6 promotion: ngram_jaccard_pairs(max_df=None)
— the EXACT form — now takes the salted hot-key join, so every default
path of the operator is skew-safe. This measures what that promotion
costs at sf0.1 against the plain (skew-exposed) inverted-index shape and
against the capped default, and writes the table into SCALING.md between
the NGRAM-SKEW markers (after the INGEST-PROBE section, which both
regenerators preserve).

The three shapes are output-identical where comparable (exact == salted,
oracle-verified in the registry; capped is the documented lower-bound
lever): what differs is WHERE the per-shingle d² pair work lands —
plain: all on one reduce key per hot shingle (the web-scale reducer
pin); salted: spread over n_salts keys (+ one p99 probe pass);
capped: dropped above max_df.

Usage: python tools/ngram_ab.py
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SECTION_BEGIN = "<!-- NGRAM-SKEW BEGIN -->"
SECTION_END = "<!-- NGRAM-SKEW END -->"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3


def main() -> None:
    from etl_pipeline_for_retail_sales_data_spark.operators import dedup as D
    from etl_pipeline_for_retail_sales_data_spark.session import get_spark
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    spark = get_spark("ngram-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents")

    shapes = {
        # the promoted default for the exact form (salted hot path)
        "exact_salted (default, max_df=None)": lambda: D.ngram_jaccard_pairs(
            docs, threshold=0.1, max_df=None
        ),
        # the pre-promotion plain shape: hot_df no df reaches = all cold
        "exact_plain (hot_df=huge)": lambda: D.ngram_jaccard_pairs(
            docs, threshold=0.1, max_df=None, hot_df=1 << 40
        ),
        # the capped recall/cost lever (direct-caller default)
        "capped (max_df=256)": lambda: D.ngram_jaccard_pairs(
            docs, threshold=0.1, max_df=256
        ),
    }
    results = {}
    for name, fn in shapes.items():
        best, rows = None, None
        for _ in range(REPS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = fn().count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        results[name] = {"sec": round(best, 3), "rows": rows}
        print(name, results[name], flush=True)

    lines = [
        SECTION_BEGIN,
        "",
        "## N-gram Jaccard skew defense: salted default vs plain shape",
        "",
        f"sf0.1 documents, threshold=0.1, min of {REPS} (`tools/ngram_ab.py`).",
        "r9 verdict #6: the EXACT form (`max_df=None`) now routes through",
        "the salted hot-key join — identical output (same oracle), but a hot",
        "stop-phrase shingle's d² pair fan-out spreads over n_salts reduce",
        "keys instead of pinning ONE reducer. The delta below is the",
        "price (the p99 document-frequency probe + hot-side replication);",
        "what it buys is invisible at this tame SF and decisive on a",
        "web corpus, where the hottest shingle's d² alone exceeds every",
        "other reduce key combined. The capped form stays the cheap",
        "lower-bound lever for direct callers.",
        "",
        "| Shape | sec | pairs |",
        "|---|---|---|",
    ]
    for name, r in results.items():
        lines.append(f"| {name} | {r['sec']} | {r['rows']} |")
    lines += ["", SECTION_END]

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "SCALING.md")
    body = open(path).read()
    section = "\n".join(lines)
    if SECTION_BEGIN in body:
        pre = body.split(SECTION_BEGIN)[0].rstrip()
        post = body.split(SECTION_END, 1)[1].lstrip("\n") if SECTION_END in body else ""
        body = pre + "\n\n" + section + ("\n\n" + post if post else "\n")
    else:
        body = body.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(body)
    print("SCALING.md ngram section written")
    print("RESULT " + json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
