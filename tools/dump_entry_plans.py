"""Dump `.explain("formatted")` for registered queries into
``<out>/<query>_<tag>.txt`` — the optimization-round evidence files
(the OPTIMIZATION_rNN.md docs cite them; plan claims are checked
against these instead of running Spark).

Usage:
  python tools/dump_entry_plans.py --out plans/rNN <tag> [query ...]
  python tools/dump_entry_plans.py --out plans/r18 before
  python tools/dump_entry_plans.py --out plans/r18 after simhash_dup_pairs

``--out`` is resolved against the repo root. Plans are built over
``$SPARK_GRAFT_SF_DIR`` (``readers.DEFAULT_SF_DIR``). With no query
names, every batch entry is dumped.

Streaming entries are EXECUTED by their entry functions (the returned
frame is a memory-sink table scan or a parquet read-back, not the
streaming plan), so by default only batch entries are dumped; pass a
streaming name explicitly to record its post-sink relation anyway.

Plans are captured WITHOUT the bench's lazy persist list, so each
file shows the query's own full dag (no InMemoryTableScan
substitution hiding a subtree). A query that fails to explain — an
unknown name included — is recorded as a failure file instead of
aborting the whole dump run.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Dump registered entries' formatted plans.")
    ap.add_argument("--out", required=True,
                    help="output directory, e.g. plans/r19")
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from bench import BENCH_CONFS
    from biometric_stream_processing_spark.session import get_spark
    from biometric_stream_processing_spark.sources.readers import (
        DEFAULT_SF_DIR,
    )

    sf_dir = DEFAULT_SF_DIR
    out_dir = os.path.join(_REPO_ROOT, args.out)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump_entry_plans", extra_confs=BENCH_CONFS)
    qs = entrymod.queries()
    names = args.names or [n for n in qs if not n.startswith("streaming_")]
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # record the failure, keep dumping
            text = f"<explain failed: {e!r}>\n"
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({args.tag}, sf_dir={sf_dir}) ==\n\n")
            f.write(text)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
