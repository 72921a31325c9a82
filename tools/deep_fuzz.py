#!/usr/bin/env python
"""Deep-fuzz session for the custom-operator invariants.

The committed hypothesis suites run 6-8 derandomized examples each so CI
stays affordable; this tool re-runs the highest-risk invariants with an
order of magnitude more examples and a fresh random seed — the
between-rounds confidence pass. Run on an idle machine; a failure prints
the shrunk counterexample.

Covered (operator → invariant):
- global_rank        == single-partition Window row_number (NULLs FIRST,
                        duplicates, any bucket count)
- simhash_bits_arrow == simhash_bits row-for-row on random token corpora
- interval_overlap   grid-cell join == quadratic bruteforce
- pq_encode/adc      Arrow forms == retained JVM expression twins across
                        random (subspaces, k, dim) with forced ties
- pair_dots_arrow    per-cell Arrow fold == join-HOF form, bit-level,
                        for every min_cos pre-filter, undirected and
                        directed, incl. NULL id/label/vector/element,
                        NaN, zero-norm, empty and ragged rows
- kmeans_cells       use_arrow=True == False end-to-end (ties via
                        duplicate/grid vectors)
- event_pattern      registered conditional-last plan == per-user
                        ordered-history scan (random windows)
- ts_best_window     registered integer-HOF sliding-window plan ==
                        plain-python zero-filled horizon scan
- pq_train           single-pass all-subspace Lloyd == per-subspace
                        numpy model, random (subspaces, k, dim)

Run: python tools/deep_fuzz.py [EXAMPLES]   (default 60 per invariant)
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 60
rng = random.Random()
SEED = rng.randrange(1 << 30)
rng.seed(SEED)


def fuzz_global_rank(spark) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.rank import global_rank

    for i in range(N):
        n = rng.randint(1, 400)
        vals = [
            None if rng.random() < 0.15 else rng.randint(-5, 5)
            if rng.random() < 0.5
            else rng.randint(-(10**9), 10**9)
            for _ in range(n)
        ]
        buckets = rng.choice([1, 2, 3, 8, 32, 64])
        df = spark.createDataFrame(
            [(j, v) for j, v in enumerate(vals)], "id long, v long"
        )
        got = {
            r["id"]: (r["rank"], r["total"])
            for r in global_rank(df, ["v", "id"], n_buckets=buckets).collect()
        }
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        exp = {
            r["id"]: (r["rank"], n)
            for r in df.withColumn(
                "rank", F.row_number().over(w).cast("long")
            ).collect()
        }
        assert got == exp, (SEED, i, buckets, vals)
    print(f"global_rank: {N} cases OK")


def fuzz_simhash_twins(spark) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.dedup import (
        simhash_bits,
        simhash_bits_arrow,
    )

    vocab = [f"tok{c}" for c in range(50)]
    for i in range(N):
        docs = []
        for d in range(rng.randint(1, 60)):
            n = rng.randint(0, 30)
            toks = [
                None if rng.random() < 0.05 else rng.choice(vocab)
                for _ in range(n)
            ]
            if rng.random() < 0.05:
                toks = None
            docs.append((d, toks))
        df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
        width = rng.choice([8, 40, 64])
        a = simhash_bits_arrow(df, "doc_id", "toks", width=width)
        j = simhash_bits(df, "doc_id", "toks", width=width)
        assert a.exceptAll(j).count() == 0 and j.exceptAll(a).count() == 0, (
            SEED,
            i,
            width,
            docs,
        )
    print(f"simhash twins: {N} cases OK")


def fuzz_interval_overlap(spark) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.temporal import (
        interval_overlap_pairs,
    )
    import datetime

    base = datetime.date(2024, 1, 1)
    for i in range(N // 3):  # each case is two Spark jobs; keep it sane
        rows = []
        for r in range(rng.randint(2, 40)):
            key = rng.randint(0, 2)
            s = rng.randint(0, 60)
            e = s + rng.randint(0, 20)
            rows.append(
                (
                    r,
                    key,
                    base + datetime.timedelta(days=s),
                    base + datetime.timedelta(days=e),
                )
            )
        df = spark.createDataFrame(
            rows, "iv_id long, key long, d_start date, d_end date"
        )
        got = {
            (r["a_id"], r["b_id"])
            for r in interval_overlap_pairs(
                df, key="key", id_col="iv_id",
                start="d_start", end="d_end",
                cell_days=rng.choice([3, 7, 30]),
            ).collect()
        }
        exp = set()
        for (ra, ka, sa, ea) in rows:
            for (rb, kb, sb, eb) in rows:
                if ra < rb and ka == kb and sa <= eb and sb <= ea:
                    exp.add((ra, rb))
        assert got == exp, (SEED, i, rows)
    print(f"interval_overlap: {N // 3} cases OK")


def _random_vec(dim: int) -> list[float]:
    """Corpus-shaped components in [-0.5, 0.5); occasionally degenerate
    (all-zero → zero norm, or tiny integer grid → exact distance ties)."""
    roll = rng.random()
    if roll < 0.08:
        return [0.0] * dim
    if roll < 0.30:
        return [rng.randint(-2, 2) / 4.0 for _ in range(dim)]
    return [rng.random() - 0.5 for _ in range(dim)]


def fuzz_pq_twins(spark) -> None:
    """pq_encode / pq_adc_topk (Arrow, registered) == their retained JVM
    expression forms on random corpora and random (subspaces, k, dim) —
    the fixture tests pin one shape; this walks the parameter space and
    forces duplicate/zero vectors so the argmin-first tie-break and the
    ascending-m fold actually get exercised."""
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_expr,
        pq_encode,
        pq_encode_expr,
    )

    for i in range(max(1, N // 6)):
        subspaces = rng.choice([2, 4])
        dim = subspaces * rng.choice([2, 4])
        k_codes = rng.choice([4, 8])
        n = rng.randint(k_codes, 120)
        vecs = [_random_vec(dim) for _ in range(n)]
        for _ in range(rng.randint(0, n // 4)):  # exact duplicates → ties
            vecs[rng.randrange(n)] = list(rng.choice(vecs))
        rows = [(j, j % 3, v) for j, v in enumerate(vecs)]
        df = spark.createDataFrame(
            rows, "vec_id long, label long, embedding array<double>"
        )
        kw = dict(subspaces=subspaces, k=k_codes, dim=dim, keep_cols=("label",))
        a = pq_encode(df, **kw)
        j = pq_encode_expr(df, **kw)
        assert a.exceptAll(j).count() == 0 and j.exceptAll(a).count() == 0, (
            SEED, i, "pq_encode", subspaces, k_codes, dim, n,
        )
        probes = df.filter(F.col("vec_id") < 3).toPandas()
        codes = a.select("vec_id", "label", "pq_codes")
        adc_kw = dict(k=5, subspaces=subspaces, n_codes=k_codes, dim=dim)
        for cell in (None, "label"):
            x = pq_adc_topk(probes, codes, cell_col=cell, **adc_kw)
            y = pq_adc_topk_expr(probes, codes, cell_col=cell, **adc_kw)
            assert (
                x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0
            ), (SEED, i, "pq_adc", cell, subspaces, k_codes, dim, n)
    print(f"pq twins: {max(1, N // 6)} cases OK")


def _pair_row(i: int, dim: int) -> tuple:
    """One (vec_id, label, v) row for the pair-kernel fuzz: mostly
    corpus-shaped, with the degenerate rows the dirty-data contract pins
    — NULL id, NULL label, NULL vector, NULL element, NaN component,
    zero norm, empty and ragged vectors."""
    label = rng.randint(0, 2)
    roll = rng.random()
    if roll < 0.03:
        return None, label, _random_vec(dim)
    if roll < 0.06:
        return i, None, _random_vec(dim)
    if roll < 0.09:
        return i, label, None
    v = _random_vec(dim)
    if roll < 0.12:
        v[rng.randrange(dim)] = None
    elif roll < 0.15:
        v[rng.randrange(dim)] = float("nan")
    elif roll < 0.18:
        v = []
    elif roll < 0.21:
        v = v[: dim // 2]
    return i, label, v


def fuzz_pair_kernel(spark) -> None:
    """pair_dots_arrow (the one within-cell pair kernel) == the join-HOF
    form, bit-level on the rounded cosine (repr: NULL, NaN and every
    double distinct), for every ``min_cos`` pre-filter, undirected and
    directed, on random cells with the degenerate-row matrix. NULL ids
    and NULL labels must drop as the inner join drops them; zero-norm
    pairs carry a NULL cosine (try_divide), which a threshold drops —
    the DuckDB oracle's x/0.0 is NULL too (tests/test_zero_norm_cosine.py)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.functions.vector import (
        cosine,
        cosine_from_dot,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pair_dots_arrow,
    )

    combos = [
        (directed, min_cos)
        for directed in (False, True)
        for min_cos in (None, -0.5, 0.0, 0.35, 0.9)
    ]
    cases = 0
    for i in range(max(1, N // 30)):
        for directed, min_cos in combos:
            dim = rng.choice([3, 8, 64])
            rows = [_pair_row(j, dim) for j in range(rng.randint(2, 120))]
            df = spark.createDataFrame(
                rows, "vec_id long, label long, v array<double>"
            )
            arrow = pair_dots_arrow(df, directed=directed, min_cos=min_cos).select(
                F.col("vec_id_a").alias("vec_a"),
                F.col("vec_id_b").alias("vec_b"),
                cosine_from_dot(F.col("__dp"), F.col("__na"), F.col("__nb")).alias(
                    "cos"
                ),
            )
            a = df.select(F.col("vec_id").alias("vec_a"), "label", F.col("v").alias("va"))
            b = df.select(F.col("vec_id").alias("vec_b"), "label", F.col("v").alias("vb"))
            join_form = (
                a.join(b, "label")
                .filter(
                    (F.col("vec_a") != F.col("vec_b"))
                    if directed
                    else (F.col("vec_a") < F.col("vec_b"))
                )
                .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
            )
            if min_cos is not None:
                arrow = arrow.filter(F.col("cos") >= min_cos)
                join_form = join_form.filter(F.col("cos") >= min_cos)
            got = {(r.vec_a, r.vec_b): repr(r.cos) for r in arrow.collect()}
            exp = {(r.vec_a, r.vec_b): repr(r.cos) for r in join_form.collect()}
            assert got == exp, (SEED, i, directed, min_cos, dim, len(rows))
            cases += 1
    print(f"pair kernel twins: {cases} cases OK")


def fuzz_kmeans_twins(spark) -> None:
    """kmeans_cells(use_arrow=True) == use_arrow=False end-to-end (both
    Lloyd iterations and the final assignment) on random corpora —
    duplicates and grid-valued vectors force equidistant-centroid ties
    through the smaller-cell argmin rule."""
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        kmeans_cells,
    )

    for i in range(max(1, N // 12)):
        dim = rng.choice([4, 8])
        k = rng.choice([2, 4])
        n = rng.randint(k, 60)
        vecs = [_random_vec(dim) for _ in range(n)]
        rows = [(j, v) for j, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kw = dict(k=k, iters=2, dim=dim)
        a = kmeans_cells(df, use_arrow=True, **kw)
        j = kmeans_cells(df, use_arrow=False, **kw)
        assert a.exceptAll(j).count() == 0 and j.exceptAll(a).count() == 0, (
            SEED, i, k, dim, n,
        )
    print(f"kmeans twins: {max(1, N // 12)} cases OK")


def fuzz_pq_train(spark) -> None:
    """pq_train's one-pass all-subspaces Lloyd == an independent numpy
    per-subspace run, bit-exact on every centroid, across random
    (subspaces, k, dim, n) incl. duplicate/grid vectors forcing
    assignment ties and empty codes (keep-old-centroid rule)."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pq_train,
    )

    cases = max(1, N // 12)
    for i in range(cases):
        subspaces = rng.choice([2, 4])
        sub = rng.choice([2, 4])
        dim = subspaces * sub
        kc = rng.choice([2, 4, 8])
        n = rng.randint(kc, 80)
        vecs = [_random_vec(dim) for _ in range(n)]
        for _ in range(rng.randint(0, n // 4)):  # duplicates -> ties
            vecs[rng.randrange(n)] = list(rng.choice(vecs))
        df = spark.createDataFrame(
            [(j, v) for j, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = pq_train(df, subspaces=subspaces, k=kc, dim=dim, iters=2)
        IV = np.floor(np.array(vecs) * 1e6).astype("int64")
        # seeds follow the r11 hash-spread order (operators.similarity.
        # _seed_hash: Knuth multiplicative on the low 20 id bits, ties
        # by raw id), distinct ids first — the pre-r11 first-k-by-row
        # model is what this harness used to encode, and re-running the
        # fuzz after the seeding change caught the stale model (r12)
        seed_ids = sorted(
            range(len(vecs)),
            key=lambda j: (((j % 1_048_576) * 2_654_435_761) % 4_294_967_296, j),
        )[:kc]
        for m in range(subspaces):
            IVm = IV[:, m * sub : (m + 1) * sub]
            Xm = IVm / 1e6
            cents = [Xm[j].copy() for j in seed_ids]
            for _ in range(2):
                d = np.array(
                    [[float(((x - c) ** 2).sum()) for c in cents] for x in Xm]
                )
                a = np.argmin(d, axis=1)
                for code in range(kc):
                    mask = a == code
                    if mask.any():
                        cents[code] = IVm[mask].sum(axis=0).astype(
                            "float64"
                        ) / (mask.sum() * 1e6)
            for code in range(kc):
                assert got[m][code] == list(cents[code]), (
                    SEED, i, subspaces, kc, dim, n, m, code,
                )
    print(f"pq_train twins: {cases} cases OK")


def fuzz_event_pattern(spark) -> None:
    """event_pattern_matches (q_event_pattern's registered plan) ==
    per-user ordered-history scan, random event soups with duplicate
    timestamps and random window sizes (VERDICT r9 #4)."""
    from datetime import datetime, timedelta

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.analytic import (
        event_pattern_matches,
    )

    epoch = datetime(2024, 1, 1)
    cases = max(1, N // 6)
    for i in range(cases):
        t_min = rng.choice([1, 7, 30, 90])
        rows = []
        for eid in range(rng.randint(0, 120)):
            rows.append(
                (
                    rng.randint(0, 6),
                    eid,
                    epoch + timedelta(minutes=rng.randint(0, 200)),
                    rng.choice(["view", "purchase", "error", "click"]),
                )
            )
        if not rows:
            continue
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp_ntz, event_type string"
        )
        got = sorted(
            (r.user_id, r.event_id)
            for r in event_pattern_matches(
                df, window_us=t_min * 60 * 1_000_000
            ).collect()
        )
        expected = []
        by_user: dict = {}
        for uid, eid, ts, typ in rows:
            by_user.setdefault(uid, []).append((ts, eid, typ))
        for uid, evs in by_user.items():
            evs.sort()
            lv = le = None
            for ts, eid, typ in evs:
                if (
                    typ == "purchase"
                    and lv is not None
                    and (ts - lv) <= timedelta(minutes=t_min)
                    and (le is None or le < lv)
                ):
                    expected.append((uid, eid))
                if typ == "view":
                    lv = ts
                elif typ == "error":
                    le = ts
        assert got == sorted(expected), (SEED, i, t_min)
    print(f"event pattern: {cases} cases OK")


def fuzz_ts_windows(spark) -> None:
    """ts_best_window (q_ts_similarity's registered integer-HOF plan) ==
    plain-python sliding-window scan over the zero-filled global
    horizon, random sparse series and random patterns incl. horizons
    shorter than the pattern (VERDICT r9 #4)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.advanced import (
        ts_best_window,
    )

    cases = max(1, N // 6)
    for i in range(cases):
        L = rng.randint(2, 6)
        pattern = [rng.randint(0, 9) for _ in range(L)]
        horizon = rng.randint(1, 20)
        seen: dict[tuple[int, int], int] = {}
        for _ in range(rng.randint(1, 80)):
            seen[(rng.randint(0, 9), rng.randint(0, horizon - 1))] = rng.randint(0, 9)
        rows = [(sk, w, c) for (sk, w), c in seen.items()]
        wk = spark.createDataFrame(rows, "sk bigint, w int, c bigint")
        got = sorted(
            (r.l_suppkey, r.best_offset, r.best_dist)
            for r in ts_best_window(wk, pattern).collect()
        )
        n_weeks = max(w for (_, w) in seen) + 1
        expected = []
        if n_weeks >= L:
            for sk in sorted({s for (s, _) in seen}):
                series = [seen.get((sk, w), 0) for w in range(n_weeks)]
                d, o = min(
                    (
                        sum((series[o + d] - pattern[d]) ** 2 for d in range(L)),
                        o,
                    )
                    for o in range(n_weeks - L + 1)
                )
                expected.append((sk, o, d))
        assert got == sorted(expected), (SEED, i, pattern, n_weeks)
    print(f"ts windows: {cases} cases OK")


def fuzz_shard_assign(spark) -> None:
    """assign_shards (two-pass distributed prefix scan) == the naive
    per-source cumulative window on random corpora: skewed sources,
    zero-char docs, oversize docs that skip shard ids, and partition
    counts both above and below the row count (r15)."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.layout import (
        assign_shards_handle,
    )

    cases = max(1, N // 6)
    for _ in range(cases):
        n_rows = rng.randrange(1, 120)
        n_src = rng.randrange(1, 5)
        target = rng.choice([512, 4_096, 32_768])
        rows = [
            (i, f"s{rng.randrange(n_src)}", rng.randrange(0, target * 8))
            for i in range(n_rows)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        )
        n_parts = rng.randrange(1, 50)
        a, parted = assign_shards_handle(df, target, n_parts=n_parts)
        try:
            got = {r["doc_id"]: r["shard_id"] for r in a.collect()}
        finally:
            parted.unpersist()
        exp = {
            r["doc_id"]: r["shard_id"]
            for r in df.select(
                "doc_id",
                F.expr(
                    f"(sum(n_chars) OVER (PARTITION BY source ORDER BY "
                    f"doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
                    f"ROW) - n_chars) DIV {target}"
                ).alias("shard_id"),
            ).collect()
        }
        assert got == exp, (target, n_parts, rows[:5])
    print(f"shard assign twins: {cases} cases OK")


def main() -> None:
    spark = get_spark("deep-fuzz", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"seed {SEED}, {N} examples per invariant")
    fuzz_global_rank(spark)
    fuzz_simhash_twins(spark)
    fuzz_interval_overlap(spark)
    fuzz_pq_twins(spark)
    fuzz_pair_kernel(spark)
    fuzz_kmeans_twins(spark)
    fuzz_pq_train(spark)
    fuzz_event_pattern(spark)
    fuzz_ts_windows(spark)
    fuzz_shard_assign(spark)
    print("deep fuzz: ALL OK")


if __name__ == "__main__":
    main()
