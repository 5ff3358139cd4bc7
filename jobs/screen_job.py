"""Batch screening job — the engine's spark-submit entry point.

The PySpark counterpart of the reference CLI ``./screen INPUT [OUTPUT]``
(/root/reference/screen:18-40, flag defaults :35-38): file-to-file feature
screening with the same knobs, plus the graft's featurization mode that
takes raw transcripts instead of a prebuilt feature matrix.

Usage (cluster):
    spark-submit --py-files dist/featurescreening_jl_spark.zip \
        jobs/screen_job.py --input <parquet|table> --output <dir> \
        [--from-transcripts] [--reduced-size 200] [--step-size 2000] \
        [--shuffle] [--random-seed 1] [--n-trees 1000] [--max-depth -1] \
        [--checkpoint-dir <dir>] [--resume] [--verbosity 1] \
        [--importance-backend partitioned [--ensemble-partitions <n>]]

A partitioned run uses the engine's ``DEFAULT_ENSEMBLE_PARTITIONS`` (64)
ensemble partitions unless ``--ensemble-partitions`` is given.

Build the zip with:  python tools/package.py
"""

from __future__ import annotations

import argparse
import logging
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet path or table name")
    p.add_argument("--output", required=True, help="output parquet path")
    p.add_argument("--from-transcripts", action="store_true",
                   help="input is a raw transcripts table: featurize first")
    p.add_argument("--label-col", default="label")
    p.add_argument("--id-col", default="sample_id")
    # screening knobs (reference CLI defaults, /root/reference/screen:35-38)
    p.add_argument("--reduced-size", type=int, default=200)
    p.add_argument("--step-size", type=int, default=2000)
    p.add_argument("--shuffle", action="store_true")
    p.add_argument("--random-seed", type=int, default=None)
    # sanity device (reference /root/reference/screen:72-84): append N
    # noise features named rnd_i before screening; a healthy screen drops
    # them. Implies --shuffle, exactly like the reference.
    p.add_argument("--random-features", type=int, default=0)
    # forest knobs (DEFAULT_SCREEN_CONFIG,
    # /root/reference/src/FeatureScreening.jl:54-61)
    p.add_argument("--n-trees", type=int, default=1000)
    p.add_argument("--n-subfeatures", type=int, default=-1)
    p.add_argument("--partial-sampling", type=float, default=0.9)
    p.add_argument("--max-depth", type=int, default=-1)
    p.add_argument("--min-samples-leaf", type=int, default=10)
    p.add_argument("--min-samples-split", type=int, default=10)
    p.add_argument("--min-purity-increase", type=float, default=0.0)
    # importance backend: spark_ml = semantics-faithful MLlib fit;
    # partitioned = map-only partition-ensemble (the 10^12-row scale path)
    p.add_argument("--importance-backend", default="spark_ml",
                   choices=["spark_ml", "partitioned"])
    p.add_argument("--ensemble-partitions", type=int, default=None,
                   help="fixed partition count for --importance-backend "
                        "partitioned (determinism + balance knob); unset "
                        "uses the engine's DEFAULT_ENSEMBLE_PARTITIONS")
    # deterministic holdout: a hash-based fraction of KEYS kept entirely
    # out of screening (transcripts mode splits on conv_id so a
    # conversation can never straddle the boundary; matrix mode splits on
    # the id column). Same rows at any cluster size or partitioning —
    # see operators/sampling.hash_split.
    p.add_argument("--holdout-fraction", type=float, default=0.0)
    p.add_argument("--holdout-output", default=None,
                   help="where to write the held-out rows "
                        "(default <output>_holdout)")
    p.add_argument("--holdout-seed", type=int, default=42)
    # ops
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true",
                   help="resume from --checkpoint-dir's last completed round")
    p.add_argument("--sessionize-gap", type=int, default=1800)
    p.add_argument("--verbosity", type=int, default=1)
    return p.parse_args(argv)


def _split_out_holdout(args, df, key_col):
    """Write the hash-deterministic holdout slice and return the rest."""
    from featurescreening_jl_spark.operators.sampling import hash_split

    split = hash_split(
        df,
        {"screen": 1.0 - args.holdout_fraction,
         "holdout": args.holdout_fraction},
        key_col=key_col,
        seed=args.holdout_seed,
    )
    holdout_path = args.holdout_output or f"{args.output}_holdout"
    holdout = split.where(split["split"] == "holdout").drop("split")
    holdout.write.mode("overwrite").parquet(holdout_path)
    n_hold = holdout.count()
    logging.info(
        "holdout: %d rows (keyed on %s, fraction %.3f, seed %d) -> %s",
        n_hold, key_col, args.holdout_fraction, args.holdout_seed,
        holdout_path,
    )
    return split.where(split["split"] == "screen").drop("split")


def main(argv=None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    logging.basicConfig(level=logging.INFO if args.verbosity else logging.WARNING)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from featurescreening_jl_spark import FeatureFrame, screen
    from featurescreening_jl_spark.sources.checkpoint import RoundCheckpoint

    # reuse an already-active session (tests, notebooks); only stop what
    # this job itself created
    pre_existing = SparkSession.getActiveSession()
    spark = SparkSession.builder.appName("screen-job").getOrCreate()

    if args.from_transcripts:
        from featurescreening_jl_spark.operators.window_features import (
            turn_feature_frame,
        )

        raw = (
            spark.read.parquet(args.input)
            if "/" in args.input
            else spark.table(args.input)
        )
        if args.holdout_fraction > 0:
            # split BEFORE featurization on conv_id — the leakage
            # boundary: every turn of a conversation lands on one side.
            raw = _split_out_holdout(args, raw, key_col="conv_id")
        # the canonical labelled turn frame — ids byte-identical to the
        # flagship pipeline's oracle-checked ones
        ff = turn_feature_frame(raw, gap_seconds=args.sessionize_gap)
    else:
        ff = FeatureFrame.load(spark, args.input, label_col=args.label_col,
                               id_col=args.id_col)
        if args.holdout_fraction > 0:
            kept = _split_out_holdout(args, ff.df, key_col=ff.id_col)
            ff = FeatureFrame(kept, ff.feature_names,
                              label_col=ff.label_col, id_col=ff.id_col)

    if args.random_features:
        # deterministic per-row noise: hash(id, column index) scaled to
        # [0, 1) — unlike F.rand(), independent of partition layout, so a
        # resumed/re-planned job sees identical noise. Distributed column
        # appends (no driver-side matrix, unlike the reference).
        logging.info("Adding %d random features...", args.random_features)
        rnd_names = [f"rnd_{i}" for i in range(1, args.random_features + 1)]
        df = ff.df
        for i, nm in enumerate(rnd_names):
            df = df.withColumn(
                nm,
                F.pmod(
                    F.xxhash64(F.col(ff.id_col), F.lit(i)), F.lit(1_000_000)
                ).cast("double")
                / 1_000_000.0,
            )
        ff = FeatureFrame(
            df,
            ff.feature_names + rnd_names,
            label_col=ff.label_col,
            id_col=ff.id_col,
        )
        args.shuffle = True  # reference: random_features != 0 forces shuffle

    config = {
        "n_trees": args.n_trees,
        "n_subfeatures": args.n_subfeatures,
        "partial_sampling": args.partial_sampling,
        "max_depth": args.max_depth,
        "min_samples_leaf": args.min_samples_leaf,
        "min_samples_split": args.min_samples_split,
        "min_purity_increase": args.min_purity_increase,
    }
    ckpt = RoundCheckpoint(args.checkpoint_dir) if args.checkpoint_dir else None

    result = screen(
        ff,
        reduced_size=args.reduced_size,
        step_size=args.step_size,
        config=config,
        shuffle=args.shuffle,
        rng=args.random_seed,
        dump_dir=(f"{args.output}_importances" if args.verbosity >= 1 else None),
        checkpoint=ckpt,
        resume_from=(args.checkpoint_dir if args.resume else None),
        show_progress=bool(args.verbosity),
        importance_backend=args.importance_backend,
        # read by the partitioned backend only
        backend_options=(
            None if args.ensemble_partitions is None
            else {"num_partitions": args.ensemble_partitions}
        ),
    )
    result.save(args.output)
    logging.info("screened %d features -> %s", result.n_features, args.output)
    if args.random_features:
        survived = [n for n in result.names if n.startswith("rnd_")]
        logging.info(
            "noise-feature sanity: %d/%d injected random features survived%s",
            len(survived), args.random_features,
            f" ({survived})" if survived else "",
        )
    if pre_existing is None:
        spark.stop()


if __name__ == "__main__":
    main()
