"""spark-submit entrypoint for the KG-construction pipeline (north rule:
``spark-submit --py-files nerzo_spark.zip jobs/run_kg.py ...``).

Reads a corpus parquet (or generates the deterministic fixture corpus when
--gen-files is given), refuses a corpus parquet that holds a (repo, path,
commit) file on more than one row (exit 1, the first keys on stderr), runs
the incremental pipeline (extraction gated by the
committed-partition manifest; canonicalization + triples recomputed globally
— see nerzo_spark/pipeline/incremental.py), prints a one-line JSON summary.

Param plumbing mirrors the reference's dataclass-args pattern
(/root/reference/contrastive/args.py:5-52, runtime_args.py:18-36) as argparse.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="parquet path of corpus table")
    ap.add_argument("--gen-files", type=int, default=0,
                    help="generate fixture corpus with N files instead of reading --corpus")
    ap.add_argument("--anchors", default=None,
                    help="parquet path of the anchor fixture (fine_type, mention_id, "
                         "surface, left_ctx, right_ctx) — required with --corpus")
    ap.add_argument("--anchor-files", type=int, default=None,
                    help="derive anchors from the fixture generator at this n_files "
                         "(must equal the corpus's generation size — gen_file output "
                         "depends on n_files)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from nerzo_spark.fixtures.corpus import anchor_rows_for
    from nerzo_spark.fixtures.distributed import corpus_df_distributed
    from nerzo_spark.pipeline.incremental import run_incremental
    from nerzo_spark.pipeline.kg import corpus_duplicate_files
    from nerzo_spark.session import get_spark

    spark = get_spark("nerzo-kg", master=args.master,
                      shuffle_partitions=args.partitions)
    t0 = time.time()

    if args.gen_files:
        corpus = corpus_df_distributed(spark, args.gen_files)
        anchors = anchor_rows_for(args.gen_files)
    else:
        if not args.corpus:
            ap.error("--corpus or --gen-files required")
        corpus = spark.read.parquet(args.corpus)
        # anchors MUST match the corpus: fixture-generated anchor surfaces
        # depend on n_files, and an external corpus needs its own anchor
        # table — never silently fall back to the 120-file fixture
        if args.anchors:
            anchors = [r.asDict() for r in spark.read.parquet(args.anchors).collect()]
        elif args.anchor_files:
            anchors = anchor_rows_for(args.anchor_files)
        else:
            ap.error("--corpus requires --anchors PATH or --anchor-files N "
                     "(anchor fixture must match the corpus)")
        # a file on two rows would be extracted twice, doubling its
        # mentions and links_to triples: refuse the corpus instead
        dups = (corpus_duplicate_files(corpus)
                .orderBy("repo", "path", "commit").limit(10).collect())
        if dups:
            keys = "\n".join(f"  {r['repo']} {r['path']} {r['commit']} ({r['n_rows']} rows)"
                             for r in dups)
            print(f"corpus has files on more than one row (repo path commit):\n{keys}",
                  file=sys.stderr)
            return 1

    stats = run_incremental(
        spark, corpus, anchors, args.output, repartition_to=args.partitions
    )
    stats["wall_sec"] = round(time.time() - t0, 2)
    stats["triples_per_sec"] = round(stats["triples_total"] / max(stats["sec"], 1e-9), 1)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
