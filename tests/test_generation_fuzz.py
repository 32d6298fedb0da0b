"""Model-based randomized testing of the generation protocol — the
round-7 machinery's strongest check: a random operation sequence
(stream batches, replays, backfills at valid floors, tombstone
deletions, compactions, crash-simulated stale dirs) runs against both
the REAL store and a trivial python model; after EVERY operation the
served state must equal the model. Complements the example-based
lifecycle tests: those pin known shapes, this searches the operation
space for interaction bugs (the coverage-0 class that ADVICE r6 found
lived exactly in such an interaction)."""

import random
import shutil

from pyspark.sql import functions as F


def _served_rollup(spark, roll):
    from pdf_brain_spark.streaming.events import read_rollup

    return {
        (r["event_type"], str(r["window_start"])): (r["n_events"], r["total_value"])
        for r in read_rollup(spark, roll).collect()
    }


def _model_rollup(model_rows):
    """One-shot rollup over the model's surviving fact rows:
    {(type, hour): (n, cents_total/100 rounded 4)}."""
    out = {}
    for (etype, hour), vals in model_rows.items():
        out[(etype, hour)] = (len(vals), round(sum(vals) / 100.0, 4))
    return out


def test_partials_store_fuzz_against_model(spark, tmp_path):
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import ROLLUP, backfill_rollup
    from pdf_brain_spark.streaming.generations import list_store

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    # driver-side copy of the facts for the model (bounded: sf0.001)
    fact_rows = [
        (r["event_id"], r["event_type"], r["ts"].replace(minute=0, second=0, microsecond=0), int(round(r["value"] * 100)))
        for r in ev.collect()
    ]
    n_slices = 6

    def slice_df(i, factor=1):
        df = ev.filter(F.col("event_id") % n_slices == i)
        if factor != 1:
            df = df.withColumn("value", F.round(F.col("value") * factor, 2))
        return df

    def slice_model(i, factor=1):
        out = {}
        for eid, etype, hour, cents in fact_rows:
            if eid % n_slices == i:
                c = int(round((cents / 100.0) * factor * 100)) if factor != 1 else cents
                out.setdefault((etype, str(hour)), []).append(c)
        return out

    for seed in (101, 202):
        rng = random.Random(seed)
        roll = str(tmp_path / f"roll_{seed}")
        fn = ROLLUP.batch_fn(roll)
        # model state: bucket -> list of cent values currently counted
        model = {}
        committed = -1
        ingested = []  # slice index per batch
        corrected_floors = {}

        def apply_batch(i, b):
            fn(slice_df(i), b)
            for k, vals in slice_model(i).items():
                model.setdefault(k, []).extend(vals)

        # ops loop
        for step in range(12):
            op = rng.choice(["batch", "batch", "replay", "backfill", "compact"])
            if op == "batch" and committed < n_slices - 1:
                committed += 1
                ingested.append(rng.randrange(n_slices))
                apply_batch(ingested[-1], committed)
            elif op == "replay" and committed >= 0:
                # crash replay of the LAST batch: must not change anything
                fn(slice_df(ingested[-1]), committed)
            elif op == "backfill" and committed >= 0:
                # re-measure one already-ingested slice's buckets at 2x,
                # at the current committed floor (must exceed compacted
                # coverage and be unused — skip otherwise)
                if committed in corrected_floors or committed in list_store(spark, roll).floors:
                    continue
                from pdf_brain_spark.streaming.generations import (
                    coverage,
                    list_store,
                )

                m_star = max(
                    [coverage(g) for g in list_store(spark, roll).raw if g < 0],
                    default=-1,
                )
                if committed <= m_star:
                    continue
                i = rng.choice(ingested)
                backfill_rollup(spark, roll, slice_df(i, factor=2), floor_batch_id=committed)
                corrected_floors[committed] = i
                # model: corrected buckets REPLACE history <= floor for
                # those buckets. Since every batch so far is <= floor,
                # the bucket's contents become exactly the corrected
                # slice's values (no later additive batches exist yet).
                corr = slice_model(i, factor=2)
                for k, vals in corr.items():
                    model[k] = list(vals)
            elif op == "compact" and committed >= 0:
                upto = rng.randint(0, committed)
                ROLLUP.compact(spark, roll, upto_batch_id=upto)
                # model unchanged: compaction must never change serving
            if committed >= 0:
                assert _served_rollup(spark, roll) == _model_rollup(model), (
                    f"seed={seed} step={step} op={op} diverged"
                )

        shutil.rmtree(roll, ignore_errors=True)


def test_row_store_fuzz_against_model(spark, tmp_path):
    """Same discipline for the ROW store (the ANN index): random
    batches, replays, tombstone deletions, and compactions; after every
    op the kept-row id set equals a python set model."""
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        IVF_INDEX,
        compact_ann_index,
        delete_vectors,
        make_ann_ingest_batch_fn,
    )
    from pdf_brain_spark.streaming.generations import list_store

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    )
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    _, cents = kmeans_assign(emb, k=8, seed=42)
    n_slices = 5

    for seed in (7, 77):
        rng = random.Random(seed)
        idx = str(tmp_path / f"ann_{seed}")
        fn = make_ann_ingest_batch_fn(idx, cents)
        alive: set[int] = set()
        committed = -1
        batches: list[int] = []

        def ids_of(i):
            return {v for v in all_ids if v % n_slices == i}

        for step in range(12):
            op = rng.choice(["batch", "batch", "replay", "delete", "compact"])
            if op == "batch" and committed < n_slices - 1:
                committed += 1
                i = committed  # disjoint slices: re-ingest handled below
                batches.append(i)
                fn(emb.filter(F.col("vec_id") % n_slices == i), committed)
                alive |= ids_of(i)
            elif op == "replay" and committed >= 0:
                fn(
                    emb.filter(F.col("vec_id") % n_slices == batches[-1]),
                    committed,
                )
            elif op == "delete" and committed >= 0 and alive:
                victims = set(rng.sample(sorted(alive), min(20, len(alive))))
                vdf = spark.createDataFrame(
                    [(v,) for v in victims], "vec_id long"
                )
                delete_vectors(spark, idx, vdf, floor_batch_id=committed)
                alive -= victims
            elif op == "compact" and committed >= 0:
                upto = rng.randint(0, committed)
                compact_ann_index(spark, idx, upto_batch_id=upto)
            if committed >= 0:
                got = {
                    r["vec_id"]
                    for r in IVF_INDEX.kept(spark, idx).collect()
                }
                assert got == alive, f"seed={seed} step={step} op={op} diverged"
                # ids sane: negative generations must never collide with
                # positive ones (the coverage-0 class)
                gens = list_store(spark, idx).raw
                assert len(gens) == len(set(gens))

        shutil.rmtree(idx, ignore_errors=True)
