"""Streaming/batch parity: the Structured Streaming jobs must produce the
same results as their batch twins on the same files."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from codex_data_products_spark.queries.events import events_tumbling_window
from codex_data_products_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    tumbling_counts,
)


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "tumbling_test", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_tumbling_window(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_sessionize_stream_closes_sessions(spark, sf_dir):
    from codex_data_products_spark.queries.windows import sessionize
    from codex_data_products_spark.streaming.events import sessionize_stream

    stream = sessionize_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "sessions_test", output_mode="append")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in spark.sql("SELECT * FROM sessions_test").collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in sessionize(spark, sf_dir).collect()
    }
    # The stream emits only *closed* sessions (the open tail per user
    # stays in state until timeout); every emitted session must match the
    # batch result exactly, and all but at most one session per user must
    # have been emitted.
    assert got, "stream emitted no sessions"
    for key, val in got.items():
        assert batch[key] == val
    n_users = len({u for u, _ in batch})
    assert len(got) >= len(batch) - n_users


def test_anomaly_stream_single_batch_matches_batch(spark, sf_dir):
    from codex_data_products_spark.queries.events import events_anomaly
    from codex_data_products_spark.streaming.events import anomaly_stream

    stream = anomaly_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "anomaly_test", output_mode="append")
    got = {
        r["event_id"]: (r["event_type"], r["value"], r["zscore"])
        for r in spark.sql("SELECT * FROM anomaly_test").collect()
    }
    want = {
        r["event_id"]: (r["event_type"], r["value"], r["zscore"])
        for r in events_anomaly(spark, sf_dir).collect()
    }
    assert len(got) > 0
    assert got == want


def test_attribution_stream_stream_join_matches_batch(spark, sf_dir):
    from codex_data_products_spark.queries.events import events_attribution
    from codex_data_products_spark.streaming.events import attribution_stream

    stream = attribution_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "attribution_test", output_mode="append")
    got = {
        (r["purchase_id"], r["view_id"], r["user_id"], r["lag_us"])
        for r in spark.sql("SELECT * FROM attribution_test").collect()
    }
    want = {
        (r["purchase_id"], r["view_id"], r["user_id"], r["lag_us"])
        for r in events_attribution(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_attribution_outer_join_emits_null_matches(spark, sf_dir):
    """Left-outer stream-stream join parity: matched pairs are identical
    to the batch twin; null-match purchases equal the batch left join
    restricted to purchases older than the final watermark (max ts - 2h)
    — newer ones are correctly still buffered when the drain ends."""
    import datetime

    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.events import (
        attribution_outer_stream,
    )
    from codex_data_products_spark.tables import table as T

    stream = attribution_outer_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "attr_outer_test", output_mode="append")
    got = {
        (r["purchase_id"], r["view_id"], r["user_id"])
        for r in spark.sql("SELECT * FROM attr_outer_test").collect()
    }

    b = T(spark, sf_dir, "events")
    bp = b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    bv = b.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    bj = bp.join(
        bv,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    final_wm = b.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(
        hours=2
    )
    want = {
        (r["purchase_id"], r["view_id"], r["user_id"])
        for r in bj.filter(
            F.col("view_id").isNotNull() | (F.col("p_ts") < F.lit(final_wm))
        ).collect()
    }
    assert got == want
    # the outer semantics actually fired: some purchases have no view
    assert any(v is None for _, v, _ in got)


def test_enrich_stream_static_join_matches_batch(spark, sf_dir):
    from codex_data_products_spark.streaming.events import (
        enrich_stream,
        user_profile_frame,
    )
    from codex_data_products_spark.tables import table as T

    batch_events = T(spark, sf_dir, "events")
    profile = user_profile_frame(batch_events)
    stream = enrich_stream(read_events_stream(spark, sf_dir), profile)
    run_to_memory(stream, "enrich_test", output_mode="append")
    got = {
        (r["event_id"], r["user_id"], r["value"], r["mean_value"])
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    from pyspark.sql import functions as F

    want = {
        (r["event_id"], r["user_id"], r["value"], r["mean_value"])
        for r in batch_events.join(profile, "user_id")
        .filter(F.col("value") > 2 * F.col("mean_value"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_cms_equals_batch_sketch(spark, sf_dir):
    """The incrementally-maintained sketch must be cell-for-cell equal
    to the batch-built one over the same files — sketch maintenance is
    a running aggregation, so streaming it is exact, not approximate."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.operators.sketches import cms_build
    from codex_data_products_spark.streaming.events import cms_stream
    from codex_data_products_spark.tables import table as T

    stream_items = read_events_stream(spark, sf_dir).select(
        F.col("event_type").alias("item")
    )
    run_to_memory(
        cms_stream(stream_items, "item"), "cms_test", output_mode="complete"
    )
    got = {
        (r["d"], r["cell"]): r["cnt"]
        for r in spark.sql("SELECT * FROM cms_test").collect()
    }
    batch_items = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("item")
    )
    want = {
        (r["d"], r["cell"]): r["cnt"]
        for r in cms_build(batch_items, "item").collect()
    }
    assert got == want and len(got) > 0


def test_scd2_stream_matches_batch_closed_intervals(spark, sf_dir):
    from codex_data_products_spark.queries.events import events_scd2
    from codex_data_products_spark.streaming.events import scd2_stream

    stream = scd2_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "scd2_test", output_mode="append")
    got = {
        (r["user_id"], r["valid_from"]): (
            r["event_type"],
            r["valid_to"],
            r["n_events"],
        )
        for r in spark.sql("SELECT * FROM scd2_test").collect()
    }
    # the stream appends exactly the CLOSED intervals; the open tail per
    # user stays in state (batch marks it is_current)
    batch = {
        (r["user_id"], r["valid_from"]): (
            r["event_type"],
            r["valid_to"],
            r["n_events"],
        )
        for r in events_scd2(spark, sf_dir).filter("NOT is_current").collect()
    }
    assert got == batch


def test_incremental_agg_maintenance_equals_recompute(spark, tmp_path):
    """IVM invariant: bootstrap + K delta folds == from-scratch
    aggregate of base ∪ all changes (deletes included), bit-identical
    because all sums are exact decimals."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_agg_state,
        combine_agg_state,
    )

    base = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 1.0)],
        "k string, v double",
    )
    state = bootstrap_agg_state(base, ["k"], ["v"])

    # delta 1: insert into a, delete one c (its only row → group drops)
    d1 = spark.createDataFrame(
        [("a", 7.0, 1), ("c", 1.0, -1)], "k string, v double, op int"
    )
    # delta 2: update b 5.0 → 9.0 (delete+insert), new group d
    d2 = spark.createDataFrame(
        [("b", 5.0, -1), ("b", 9.0, 1), ("d", 2.0, 1)],
        "k string, v double, op int",
    )
    state = combine_agg_state(state, d1, ["k"], ["v"])
    state = combine_agg_state(state, d2, ["k"], ["v"])

    final_rows = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 7.0), ("b", 9.0), ("d", 2.0)],
        "k string, v double",
    )
    expect = {
        (r["k"]): (r["n"], r["sum_v"])
        for r in bootstrap_agg_state(final_rows, ["k"], ["v"]).collect()
    }
    got = {(r["k"]): (r["n"], r["sum_v"]) for r in state.collect()}
    assert got == expect
    assert "c" not in got  # zero-count group dropped


def test_run_agg_maintenance_versions_snapshots(spark, tmp_path):
    from codex_data_products_spark.streaming.merge import (
        bootstrap_agg_state,
        read_table,
        run_agg_maintenance,
        table_versions,
    )

    src = str(tmp_path / "changes")
    table = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [("a", 10.0), ("b", 5.0)], "k string, v double"
    )
    bootstrap_agg_state(base, ["k"], ["v"]).write.parquet(f"{table}/v=0")

    spark.createDataFrame(
        [("a", 2.5, 1), ("b", 5.0, -1)], "k string, v double, op int"
    ).coalesce(1).write.parquet(f"{src}/d1")
    changes = spark.readStream.schema("k string, v double, op int").option(
        "recursiveFileLookup", "true"
    ).parquet(src)
    run_agg_maintenance(changes, table, ["k"], ["v"], ckpt)

    assert table_versions(spark, table) == [0, 1]
    latest = {
        r["k"]: (r["n"], float(r["sum_v"]))
        for r in read_table(spark, table).collect()
    }
    assert latest == {"a": (2, 12.5)}  # b dropped to zero
    # time travel: v=0 still addressable
    v0 = {r["k"]: r["n"] for r in read_table(spark, table, 0).collect()}
    assert v0 == {"a": 1, "b": 1}


def test_run_agg_maintenance_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: if batch 0 already wrote v=1 but the
    checkpoint commit was lost, re-running batch 0 must fold the delta
    into the PRE-batch snapshot (v=0) — not the latest (v=1), which
    would double-apply the additive delta. Simulated with a fresh
    checkpoint dir over the same source, which replays batch_id=0
    against a table where v=1 already exists."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_agg_state,
        read_table,
        run_agg_maintenance,
        table_versions,
    )

    src = str(tmp_path / "changes")
    table = str(tmp_path / "agg_table")
    base = spark.createDataFrame([("a", 10.0)], "k string, v double")
    bootstrap_agg_state(base, ["k"], ["v"]).write.parquet(f"{table}/v=0")
    spark.createDataFrame(
        [("a", 2.5, 1)], "k string, v double, op int"
    ).coalesce(1).write.parquet(f"{src}/d1")

    def drain(ckpt: str) -> None:
        changes = (
            spark.readStream.schema("k string, v double, op int")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_agg_maintenance(changes, table, ["k"], ["v"], ckpt)

    drain(str(tmp_path / "ckpt_attempt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt_attempt2"))  # replay of batch_id=0

    assert table_versions(spark, table) == [0, 1]
    latest = {
        r["k"]: (r["n"], float(r["sum_v"]))
        for r in read_table(spark, table).collect()
    }
    # single fold: 10.0 + 2.5, n=2 — NOT 15.0/n=3 (the double-fold bug)
    assert latest == {"a": (2, 12.5)}


def test_hll_maintenance_matches_batch_sketch(spark, tmp_path):
    """Streaming max-merge of HLL registers == sketching the full
    history in one batch pass: registers are bit-identical, so the
    estimates are the same IEEE double. Includes a restart: the second
    drain resumes from the checkpoint and folds only the new file."""
    from codex_data_products_spark.operators.sketches import (
        hll_estimate,
        hll_register_rows,
    )
    from codex_data_products_spark.streaming.merge import (
        read_table,
        run_hll_maintenance,
        table_versions,
    )

    src = str(tmp_path / "items")
    table = str(tmp_path / "hll_table")
    ckpt = str(tmp_path / "ckpt")

    base = spark.createDataFrame(
        [("a", f"u{i}") for i in range(40)] + [("b", "u1"), ("b", "u2")],
        "g string, item string",
    )
    batch1 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(30, 70)] + [("b", "u3")],
        "g string, item string",
    )
    batch2 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(60, 90)] + [("c", "u9")],
        "g string, item string",
    )
    hll_register_rows(base, "item", ["g"]).write.parquet(f"{table}/v=0")

    def drain() -> None:
        items = spark.readStream.schema("g string, item string").option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        run_hll_maintenance(items, table, ["g"], "item", ckpt)

    batch1.coalesce(1).write.parquet(f"{src}/d1")
    drain()
    batch2.coalesce(1).write.parquet(f"{src}/d2")
    drain()  # restart: same checkpoint, resumes at batch_id=1

    assert table_versions(spark, table) == [0, 1, 2]
    maintained = {
        r["g"]: r["hll_estimate"]
        for r in hll_estimate(read_table(spark, table), ["g"]).collect()
    }
    full = base.unionByName(batch1).unionByName(batch2)
    recomputed = {
        r["g"]: r["hll_estimate"]
        for r in hll_estimate(
            hll_register_rows(full, "item", ["g"]), ["g"]
        ).collect()
    }
    assert maintained == recomputed  # exact double equality
    assert set(maintained) == {"a", "b", "c"}


def test_join_view_maintenance_equals_recompute(spark, tmp_path):
    """Delta-join IVM: V = A join B maintained under two-sided
    inserts/deletes equals the from-scratch join of the final sides —
    including a restart between batches and a key whose B side is
    deleted then re-added with a different payload."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_join_state,
        read_table,
        run_join_maintenance,
        table_versions,
    )

    root = str(tmp_path / "jv")
    src = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")

    a0 = spark.createDataFrame(
        [(1, "a1"), (1, "a2"), (2, "a3")], "k int, a_val string"
    )
    b0 = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (3, "b3")], "k int, b_val string"
    )
    bootstrap_join_state(a0, b0, root, "k")

    schema = "side string, k int, a_val string, b_val string, op int"
    batch1 = spark.createDataFrame(
        [
            ("A", 3, "a4", None, 1),   # new A row joins existing b3
            ("B", 2, None, "b2", -1),  # kills the (2, a3, b2) pair
            ("B", 1, None, "b9", 1),   # fans out to a1 AND a2
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [
            ("A", 1, "a1", None, -1),  # delete one A row
            ("B", 2, None, "b7", 1),   # re-add B side of key 2
            ("A", 2, "a5", None, 1),   # same-batch ΔA ⋈ ΔB on key 2
        ],
        schema,
    )

    def drain() -> None:
        changes = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        run_join_maintenance(changes, root, "k", ckpt)

    batch1.coalesce(1).write.parquet(f"{src}/d1")
    drain()
    batch2.coalesce(1).write.parquet(f"{src}/d2")
    drain()  # restart from checkpoint → batch_id=1

    assert table_versions(spark, f"{root}/V") == [0, 1, 2]
    a_final = read_table(spark, f"{root}/A")
    b_final = read_table(spark, f"{root}/B")
    v_final = {
        (r["k"], r["a_val"], r["b_val"]): r["n"]
        for r in read_table(spark, f"{root}/V").collect()
    }
    recomputed = {
        (r["k"], r["a_val"], r["b_val"]): r["n"]
        for r in a_final.alias("a")
        .join(b_final.alias("b"), "k")
        .selectExpr("k", "a_val", "b_val", "a.n * b.n AS n")
        .collect()
    }
    assert v_final == recomputed and len(v_final) > 0
    # spot semantics: key 2 now pairs (a3,b7) and (a5,b7), not b2
    assert (2, "a3", "b7") in v_final and (2, "a5", "b7") in v_final
    assert not any(k == 2 and b == "b2" for k, _, b in v_final)
    assert (3, "a4", "b3") in v_final
    assert not any(a == "a1" for _, a, _b in v_final)


def test_run_topk_maintenance_matches_full_recompute(spark, tmp_path):
    """Leaderboard IVM: after two incremental drains the k-row state
    equals a from-scratch top-k over everything ever inserted, and the
    per-refresh work is k + batch-top-k rows, never the history."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_topk_state,
        read_table,
        run_topk_maintenance,
        table_versions,
    )

    src = str(tmp_path / "ins")
    table = str(tmp_path / "topk_table")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(1, 50.0), (2, 80.0), (3, 10.0), (4, 70.0)],
        "order_id long, price double",
    )
    bootstrap_topk_state(base, 3, "price", ["order_id"]).write.parquet(
        f"{table}/v=0"
    )

    b1 = [(5, 90.0), (6, 20.0)]
    b2 = [(7, 75.0), (8, 75.0), (9, 5.0)]
    spark.createDataFrame(b1, "order_id long, price double").coalesce(
        1
    ).write.parquet(f"{src}/d1")
    inserts = (
        spark.readStream.schema("order_id long, price double")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_topk_maintenance(inserts, table, 3, "price", ["order_id"], ckpt)
    spark.createDataFrame(b2, "order_id long, price double").coalesce(
        1
    ).write.parquet(f"{src}/d2")
    run_topk_maintenance(inserts, table, 3, "price", ["order_id"], ckpt)

    assert table_versions(spark, table)[-1] >= 2
    got = {
        (r["order_id"], r["price"])
        for r in read_table(spark, table).collect()
    }
    everything = base.unionByName(
        spark.createDataFrame(
            b1 + b2, "order_id long, price double"
        )
    )
    want = {
        (r["order_id"], r["price"])
        for r in bootstrap_topk_state(
            everything, 3, "price", ["order_id"]
        ).collect()
    }
    assert got == want == {(5, 90.0), (2, 80.0), (7, 75.0)}


def test_run_hll_maintenance_replay_overwrites_same_version(spark, tmp_path):
    """Crash-replay for the HLL maintainer (VERDICT r4 #6): batch 0
    already wrote v=1 but the checkpoint commit was lost; the replay
    must anchor to the pre-batch snapshot v=0 and overwrite v=1 with
    BIT-IDENTICAL registers (max-merge is idempotent, so even the
    values could not drift — the contract pinned here is the version
    chain and the anchoring)."""
    from codex_data_products_spark.operators.sketches import (
        hll_estimate,
        hll_register_rows,
    )
    from codex_data_products_spark.streaming.merge import (
        read_table,
        run_hll_maintenance,
        table_versions,
    )

    src = str(tmp_path / "items")
    table = str(tmp_path / "hll_table")
    base = spark.createDataFrame(
        [("a", f"u{i}") for i in range(25)], "g string, item string"
    )
    hll_register_rows(base, "item", ["g"]).write.parquet(f"{table}/v=0")
    delta = [("a", f"u{i}") for i in range(20, 45)] + [("b", "x1")]
    spark.createDataFrame(delta, "g string, item string").coalesce(
        1
    ).write.parquet(f"{src}/d1")

    def drain(ckpt: str) -> None:
        items = (
            spark.readStream.schema("g string, item string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_hll_maintenance(items, table, ["g"], "item", ckpt)

    drain(str(tmp_path / "ckpt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt2"))  # replay of batch_id=0

    assert table_versions(spark, table) == [0, 1]
    # registers equal the one-pass sketch of the full history
    full = spark.createDataFrame(
        [("a", f"u{i}") for i in range(45)] + [("b", "x1")],
        "g string, item string",
    )
    expect = {
        (r["g"], r["bucket"]): r["rank"]
        for r in hll_register_rows(full, "item", ["g"]).collect()
    }
    got = {
        (r["g"], r["bucket"]): r["rank"]
        for r in read_table(spark, table).collect()
    }
    assert got == expect
    est_stream = {
        r["g"]: r["hll_estimate"]
        for r in hll_estimate(read_table(spark, table), ["g"]).collect()
    }
    est_batch = {
        r["g"]: r["hll_estimate"]
        for r in hll_estimate(
            hll_register_rows(full, "item", ["g"]), ["g"]
        ).collect()
    }
    assert est_stream == est_batch


def test_run_join_maintenance_replay_is_idempotent(spark, tmp_path):
    """Crash-replay for the join-view maintainer: multiplicities are
    ADDITIVE, so a replay anchored to 'latest' would double-apply the
    delta-join. The pre-batch anchoring must make the second attempt
    overwrite v=1 with the same counts."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_join_state,
        read_table,
        run_join_maintenance,
        table_versions,
    )

    src = str(tmp_path / "changes")
    table = str(tmp_path / "jv")
    a = spark.createDataFrame(
        [(1, "a1"), (1, "a1"), (2, "a2")], "k long, a_val string"
    )
    b = spark.createDataFrame(
        [(1, "b1"), (2, "b2")], "k long, b_val string"
    )
    bootstrap_join_state(a, b, table, "k")
    changes = [
        ("A", 1, "a9", None, 1),   # new A row fans out to b1
        ("B", 1, None, "b1", 1),   # second copy of b1: V(1,a1,b1) → 4
        ("B", 2, None, "b2", -1),  # delete kills the (2, a2, b2) pair
    ]
    spark.createDataFrame(
        changes, "side string, k long, a_val string, b_val string, op int"
    ).coalesce(1).write.parquet(f"{src}/d1")

    def drain(ckpt: str) -> None:
        ch = (
            spark.readStream.schema(
                "side string, k long, a_val string, b_val string, op int"
            )
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_join_maintenance(ch, table, "k", ckpt)

    drain(str(tmp_path / "ckpt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt2"))  # replay of batch_id=0

    for side in ("A", "B", "V"):
        assert table_versions(spark, f"{table}/{side}") == [0, 1]
    v = {
        (r["k"], r["a_val"], r["b_val"]): r["n"]
        for r in read_table(spark, f"{table}/V").collect()
    }
    # single application: a1 has n=2, b1 now n=2 → 4; a9⋈b1 = 2;
    # (2, a2, b2) gone. A double-applied replay would give a1×b1 = 6
    # (b-side n=3) and resurrect nothing correctly.
    assert v == {(1, "a1", "b1"): 4, (1, "a9", "b1"): 2}
    # and V equals a from-scratch rejoin of the maintained A, B
    a_now = read_table(spark, f"{table}/A").alias("a")
    b_now = read_table(spark, f"{table}/B").alias("b")
    recompute = {
        (r["k"], r["a_val"], r["b_val"]): r["n"]
        for r in a_now.join(b_now, "k")
        .select(
            "k",
            "a_val",
            "b_val",
            (F.col("a.n") * F.col("b.n")).cast("long").alias("n"),
        )
        .collect()
    }
    assert v == recompute


def test_run_topk_maintenance_replay_keeps_version_chain(spark, tmp_path):
    """Crash-replay for the top-k maintainer: replay must overwrite
    v=1 from the v=0 anchor (idempotent by construction — the contract
    here is the deterministic version chain and exact equality with a
    full recompute afterwards)."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_topk_state,
        read_table,
        run_topk_maintenance,
        table_versions,
    )

    src = str(tmp_path / "inserts")
    table = str(tmp_path / "topk")
    base = spark.createDataFrame(
        [(f"u{i}", float(i)) for i in range(10)], "uid string, score double"
    )
    bootstrap_topk_state(base, 3, "score", ["uid"]).write.parquet(
        f"{table}/v=0"
    )
    inserts = [("u50", 50.0), ("u51", 2.0), ("u52", 8.5)]
    spark.createDataFrame(
        inserts, "uid string, score double"
    ).coalesce(1).write.parquet(f"{src}/d1")

    def drain(ckpt: str) -> None:
        ins = (
            spark.readStream.schema("uid string, score double")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_topk_maintenance(ins, table, 3, "score", ["uid"], ckpt)

    drain(str(tmp_path / "ckpt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt2"))  # replay of batch_id=0

    assert table_versions(spark, table) == [0, 1]
    got = sorted(
        (r["uid"], r["score"]) for r in read_table(spark, table).collect()
    )
    full = base.unionByName(
        spark.createDataFrame(inserts, "uid string, score double")
    )
    expect = sorted(
        (r["uid"], r["score"])
        for r in bootstrap_topk_state(full, 3, "score", ["uid"]).collect()
    )
    assert got == expect == [("u50", 50.0), ("u52", 8.5), ("u9", 9.0)]


def test_moment_maintenance_matches_full_recompute(spark, tmp_path):
    """Streaming per-dimension moment folds == one batch recompute over
    all vectors ever ingested: decimal sums are exact and associative,
    so state rows are bit-identical. Includes a checkpoint restart."""
    import random

    from codex_data_products_spark.streaming.merge import (
        combine_moment_state,
        moment_rows,
        moment_stats,
        read_table,
        run_moment_maintenance,
        table_versions,
    )

    rng = random.Random(7)

    def vecs(n, start):
        return spark.createDataFrame(
            [
                (start + i, [round(rng.uniform(-2, 2), 4) for _ in range(8)])
                for i in range(n)
            ],
            "vec_id long, embedding array<float>",
        )

    base, batch1, batch2 = vecs(20, 0), vecs(15, 100), vecs(10, 200)
    src = str(tmp_path / "vecs")
    table = str(tmp_path / "moments")
    ckpt = str(tmp_path / "ckpt")
    moment_rows(base).write.parquet(f"{table}/v=0")

    def drain() -> None:
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).option("recursiveFileLookup", "true").parquet(src)
        run_moment_maintenance(stream, table, ckpt)

    batch1.coalesce(1).write.parquet(f"{src}/d1")
    drain()
    batch2.coalesce(1).write.parquet(f"{src}/d2")
    drain()  # restart from checkpoint: folds only d2

    assert table_versions(spark, table) == [0, 1, 2]
    maintained = {
        r["dim"]: (r["n"], r["s"], r["s2"])
        for r in read_table(spark, table).collect()
    }
    full = base.unionByName(batch1).unionByName(batch2)
    recomputed = {
        r["dim"]: (r["n"], r["s"], r["s2"])
        for r in moment_rows(full).collect()
    }
    assert maintained == recomputed  # exact decimal equality
    stats = {r["dim"]: r for r in moment_stats(read_table(spark, table)).collect()}
    assert len(stats) == 8 and all(s["n"] == 45 for s in stats.values())


def test_run_moment_maintenance_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: re-applying the same batch_id folds into
    the same pre-batch snapshot and overwrites the same version — the
    state after a replay equals the state after a single application."""
    from codex_data_products_spark.streaming.merge import (
        combine_moment_state,
        moment_rows,
        read_table,
    )

    base = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [(2, [5.0, 6.0])], "vec_id long, embedding array<float>"
    )
    table = str(tmp_path / "moments")
    moment_rows(base).write.parquet(f"{table}/v=0")

    def apply(batch_id: int) -> None:
        state = read_table(spark, table, version=batch_id)
        combine_moment_state(state, moment_rows(delta)).write.mode(
            "overwrite"
        ).parquet(f"{table}/v={batch_id + 1}")

    apply(0)
    once = {
        r["dim"]: (r["n"], r["s"], r["s2"])
        for r in read_table(spark, table).collect()
    }
    apply(0)  # simulated crash-replay of the same micro-batch
    twice = {
        r["dim"]: (r["n"], r["s"], r["s2"])
        for r in read_table(spark, table).collect()
    }
    assert once == twice
    assert twice[1][0] == 3  # folded exactly once


# ---------------------------------------------------------------------------
# Incremental dedup (streaming/dedup_ivm.py): the fifth IVM class. The
# maintained pair view must equal the from-scratch dedup_minhash_lsh
# over everything ingested, including when a batch pushes a shingle
# over the DF cap and old docs must be re-signed.
# ---------------------------------------------------------------------------


def _lsh_from_scratch(docs_df):
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _frequent_shingles_removed,
        _jaccard_for_pairs,
        _lsh_candidate_pairs,
        shingle_table,
    )

    raw = shingle_table(docs_df).persist()
    sh = _frequent_shingles_removed(raw)
    out = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in _jaccard_for_pairs(_lsh_candidate_pairs(sh), sh)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    }
    raw.unpersist()
    return out


def _ivm_pairs(spark, state_dir):
    from codex_data_products_spark.streaming.dedup_ivm import (
        dedup_pairs_snapshot,
    )

    return {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_pairs_snapshot(spark, state_dir).collect()
    }


def test_dedup_ivm_matches_from_scratch_on_documents(spark, sf_dir, tmp_path):
    """Three modulo batches of the documents table: the maintained view
    equals a from-scratch LSH run over the union after every batch."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_dedup_batch,
        bootstrap_dedup_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "dedup_state")
    bootstrap_dedup_state(spark, state)
    for k in range(3):
        apply_dedup_batch(docs.filter(F.col("doc_id") % 3 == k), state, k)
        prefix = docs.filter(F.col("doc_id") % 3 <= k)
        assert _ivm_pairs(spark, state) == _lsh_from_scratch(prefix)


def _cap_corpus(spark, n_with_common: int):
    """Synthetic corpus where one shingle ('w0..w4') appears in
    ``n_with_common`` docs — crossing SHINGLE_DF_CAP when that exceeds
    the cap — plus a near-dup pair (9001, 9002) that shares the common
    shingle, so capping it changes that pair's Jaccard."""
    common = "w0 w1 w2 w3 w4"
    rows = [
        (1000 + i, f"{common} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f")
        for i in range(n_with_common)
    ]
    # near-dup pair: 60 tokens, one differing tail token -> Jaccard
    # (55 shared of 61 union) high enough that the md5-deterministic
    # bands collide
    shared_tail = " ".join(f"s{j}" for j in range(54))
    rows.append((9001, f"{common} {shared_tail} onlyx"))
    rows.append((9002, f"{common} {shared_tail} onlyy"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_ivm_cap_crossing_resigns_old_docs(spark, tmp_path):
    """Batch 1 pushes the common shingle over the DF cap: docs from
    batch 0 that contain it (including the near-dup pair) must be
    re-signed and their pairs re-verified. Equality with from-scratch
    is checked before AND after the crossing."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import SHINGLE_DF_CAP
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_dedup_batch,
        bootstrap_dedup_state,
    )

    corpus = _cap_corpus(spark, SHINGLE_DF_CAP + 20)
    state = str(tmp_path / "dedup_state")
    bootstrap_dedup_state(spark, state)
    # batch 0: common-shingle DF = 62 (60 fillers + the near-dup pair),
    # below the cap of 100; batch 1 adds 60 more -> DF 122, capped.
    b0 = corpus.filter((F.col("doc_id") < 1060) | (F.col("doc_id") > 9000))
    b1 = corpus.filter((F.col("doc_id") >= 1060) & (F.col("doc_id") < 9000))
    apply_dedup_batch(b0, state, 0)
    got_before = _ivm_pairs(spark, state)
    assert got_before == _lsh_from_scratch(b0)
    apply_dedup_batch(b1, state, 1)
    got_after = _ivm_pairs(spark, state)
    assert got_after == _lsh_from_scratch(corpus)
    # the crossing genuinely exercised the re-sign/re-verify path: the
    # near-dup pair (9001, 9002) — OLD docs untouched by batch 1 — must
    # now carry a Jaccard computed over the CAPPED shingle sets (the
    # common shingle no longer counts toward intersection or union).
    from codex_data_products_spark.streaming.dedup_ivm import DedupStateDirs
    from codex_data_products_spark.streaming.merge import read_table

    dirs = DedupStateDirs(state)
    jac_before = {p[:2]: p[2] for p in got_before}
    jac_after = {p[:2]: p[2] for p in got_after}
    assert (9001, 9002) in jac_before and (9001, 9002) in jac_after
    assert jac_before[(9001, 9002)] != jac_after[(9001, 9002)]
    # and the DF state really crossed the cap
    df_common = (
        read_table(spark, dirs.df)
        .filter(F.col("shingle") == "w0 w1 w2 w3 w4")
        .collect()[0]["df"]
    )
    assert df_common > SHINGLE_DF_CAP


def test_run_dedup_maintenance_replay_overwrites_same_version(
    spark, tmp_path
):
    """Crash-replay: batch 0 wrote v=1 (and shingles/batch=0) but the
    checkpoint commit was lost. The replay must anchor to v=0, overwrite
    the same snapshot AND the same shingle-log partition (no
    double-counted DF), and land on the from-scratch result."""
    from codex_data_products_spark.streaming.dedup_ivm import (
        DedupStateDirs,
        bootstrap_dedup_state,
        run_dedup_maintenance,
    )
    from codex_data_products_spark.streaming.merge import table_versions

    src = str(tmp_path / "docs")
    state = str(tmp_path / "dedup_state")
    tail = " ".join(f"t{j}" for j in range(59))
    docs = spark.createDataFrame(
        [
            (1, f"{tail} onlyx"),
            (2, f"{tail} onlyy"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.parquet(f"{src}/d0")
    bootstrap_dedup_state(spark, state)

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        # auto-compaction off: this test pins the RAW append-log replay
        # layout (a replayed batch overwrites its own partition); the
        # compaction-composed replay is covered by
        # test_run_dedup_maintenance_replay_with_auto_compaction
        run_dedup_maintenance(stream, state, ckpt, auto_compact_ratio=None)

    drain(str(tmp_path / "ckpt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt2"))  # replay of batch_id=0

    import os

    dirs = DedupStateDirs(state)
    # the pair state is an append-only batch log, not v= snapshots: a
    # replayed batch overwrites its OWN partition, never adds one
    assert sorted(
        d for d in os.listdir(dirs.pairs) if d.startswith("batch=")
    ) == ["batch=0", "batch=1"]
    assert table_versions(spark, dirs.df) == [0, 1]
    got = _ivm_pairs(spark, state)
    assert got == _lsh_from_scratch(docs)
    assert got  # the near-dup pair (1, 2) is actually found
    # DF counts were not double-applied by the replay
    from codex_data_products_spark.streaming.merge import read_table

    df_counts = {
        r["shingle"]: r["df"]
        for r in read_table(spark, dirs.df).collect()
    }
    assert max(df_counts.values()) <= 2


def test_run_profile_maintenance_matches_batch_and_survives_retraction(
    spark, tmp_path
):
    """Sixth IVM class — the column-profile multiset. Two contracts:
    (1) after draining inserts, profile_stats(state) equals the
    from-scratch profile of the union; (2) retracting a batch restores
    the EXACT prior profile including min/max — the property scalar
    min/max state cannot provide and the multiset representation
    exists to provide."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_profile_state,
        combine_profile_state,
        profile_rows,
        profile_stats,
        read_table,
        run_profile_maintenance,
    )

    cols = ["status", "price"]
    schema = "id long, status string, price long"
    src = str(tmp_path / "ins")
    table = str(tmp_path / "prof_table")
    base = spark.createDataFrame(
        [(1, "open", 10), (2, "open", 20), (3, None, 30)], schema
    )
    bootstrap_profile_state(base, cols).write.parquet(f"{table}/v=0")

    b1 = [(4, "closed", 99), (5, "open", 10)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/d1")
    inserts = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_profile_maintenance(inserts, table, cols, str(tmp_path / "ckpt"))

    got = {
        tuple(r)
        for r in profile_stats(read_table(spark, table)).collect()
    }
    everything = base.unionByName(spark.createDataFrame(b1, schema))
    want = {
        tuple(r)
        for r in profile_stats(
            bootstrap_profile_state(everything, cols)
        ).collect()
    }
    assert got == want
    stats = {r[0]: r for r in profile_stats(read_table(spark, table)).collect()}
    assert stats["price"]["max_v"] == "99"
    assert stats["status"]["n_null"] == 1
    assert stats["status"]["n_distinct"] == 2

    # retraction: delete batch b1 (op=-1) via the CDC-complete fold —
    # max drops back from 99 to 30 because the multiset forgets the
    # retracted support rows entirely
    deletes = spark.createDataFrame(
        [(4, "closed", 99, -1), (5, "open", 10, -1)],
        schema + ", op int",
    )
    reverted = combine_profile_state(
        read_table(spark, table), profile_rows(deletes, cols, "op")
    )
    back = {tuple(r) for r in profile_stats(reverted).collect()}
    orig = {
        tuple(r)
        for r in profile_stats(bootstrap_profile_state(base, cols)).collect()
    }
    assert back == orig
    assert {r[0]: r for r in profile_stats(reverted).collect()}["price"][
        "max_v"
    ] == "30"


def test_run_profile_maintenance_replay_overwrites_same_version(
    spark, tmp_path
):
    """Crash-replay for the profile maintainer: the fold is ADDITIVE,
    so replay anchored to 'latest' would double-count the delta; the
    pre-batch anchoring must make the second attempt overwrite v=1
    with identical counts."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_profile_state,
        profile_stats,
        read_table,
        run_profile_maintenance,
        table_versions,
    )

    cols = ["status"]
    schema = "id long, status string"
    src = str(tmp_path / "ins")
    table = str(tmp_path / "prof_table")
    base = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    bootstrap_profile_state(base, cols).write.parquet(f"{table}/v=0")
    spark.createDataFrame([(3, "a"), (4, "c")], schema).coalesce(
        1
    ).write.parquet(f"{src}/d1")

    def drain(ckpt: str) -> None:
        inserts = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_profile_maintenance(inserts, table, cols, ckpt)

    drain(str(tmp_path / "ckpt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt2"))  # replay of batch_id=0

    assert table_versions(spark, table) == [0, 1]
    got = {
        (r["column_name"], r["v"], r["cnt"])
        for r in read_table(spark, table).collect()
    }
    assert got == {
        ("status", "a", 2),
        ("status", "b", 1),
        ("status", "c", 1),
    }
    stats = profile_stats(read_table(spark, table)).collect()[0]
    assert stats["n_rows"] == 4 and stats["n_distinct"] == 3


def test_run_histogram_maintenance_matches_batch_and_retracts(
    spark, tmp_path
):
    """Eighth IVM class — optimizer statistics. After draining inserts,
    histogram_stats(state) equals the from-scratch equi-depth histogram
    of the union; retracting the batch restores the exact prior
    histogram (signed bucket counts forget retracted rows entirely)."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_histogram_state,
        combine_histogram_state,
        histogram_rows,
        histogram_stats,
        read_table,
        run_histogram_maintenance,
    )

    width, k = 1000, 4
    schema = "id long, price double"
    src = str(tmp_path / "ins")
    table = str(tmp_path / "hist_table")
    base = spark.createDataFrame(
        [(i, 500.0 + 1000 * i) for i in range(8)], schema
    )
    bootstrap_histogram_state(base, "price", width).write.parquet(
        f"{table}/v=0"
    )

    b1 = [(100 + i, 500.0 + 1000 * (8 + i)) for i in range(8)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/d1")
    inserts = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_histogram_maintenance(
        inserts, table, "price", width, str(tmp_path / "ckpt")
    )

    got = {
        tuple(r)
        for r in histogram_stats(
            read_table(spark, table), width, k
        ).collect()
    }
    union = base.unionByName(spark.createDataFrame(b1, schema))
    want = {
        tuple(r)
        for r in histogram_stats(
            bootstrap_histogram_state(union, "price", width), width, k
        ).collect()
    }
    assert got == want
    # 16 uniform rows into 4 depth buckets -> 4 rows each
    assert sorted(r[3] for r in got) == [4, 4, 4, 4]

    # retraction restores the exact 8-row histogram
    deletes = spark.createDataFrame(
        [(i, p, -1) for i, p in b1], schema + ", op int"
    )
    reverted = combine_histogram_state(
        read_table(spark, table),
        histogram_rows(deletes, "price", width, "op"),
    )
    back = {tuple(r) for r in histogram_stats(reverted, width, k).collect()}
    orig = {
        tuple(r)
        for r in histogram_stats(
            bootstrap_histogram_state(base, "price", width), width, k
        ).collect()
    }
    assert back == orig


def test_run_histogram_maintenance_replay_overwrites_same_version(
    spark, tmp_path
):
    """Crash-replay for the statistics maintainer: the fold is
    additive, so replay anchored to 'latest' would double-count; the
    pre-batch anchoring must make the second drain overwrite v=1 with
    identical bucket counts."""
    from codex_data_products_spark.streaming.merge import (
        bootstrap_histogram_state,
        read_table,
        run_histogram_maintenance,
        table_versions,
    )

    schema = "id long, price double"
    src = str(tmp_path / "ins")
    table = str(tmp_path / "hist_table")
    base = spark.createDataFrame([(1, 100.0), (2, 2100.0)], schema)
    bootstrap_histogram_state(base, "price", 1000).write.parquet(
        f"{table}/v=0"
    )
    spark.createDataFrame(
        [(3, 150.0), (4, 3500.0)], schema
    ).coalesce(1).write.parquet(f"{src}/d1")

    def drain(ckpt: str) -> None:
        inserts = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_histogram_maintenance(inserts, table, "price", 1000, ckpt)

    drain(str(tmp_path / "ckpt1"))  # writes v=1, "commit lost"
    drain(str(tmp_path / "ckpt2"))  # replay of batch_id=0

    assert table_versions(spark, table) == [0, 1]
    got = {
        (r["bucket"], r["cnt"])
        for r in read_table(spark, table).collect()
    }
    assert got == {(0, 2), (2, 1), (3, 1)}


# ---------------------------------------------------------------------------
# SimHash incremental maintenance (VERDICT r6 #7): row-local signatures,
# so the maintainer is append-only — no re-sign path. The maintained
# pair view must equal from-scratch dedup_simhash over everything
# ingested after every batch, and a replayed batch must be a no-op.
# ---------------------------------------------------------------------------


def _simhash_from_scratch(spark, docs_df, tmp_path, tag):
    from codex_data_products_spark.queries.dedup import dedup_simhash

    d = str(tmp_path / f"sim_scratch_{tag}")
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    return {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]),
         r["hamming"])
        for r in dedup_simhash(spark, d).collect()
    }


def _simhash_ivm(spark, state):
    from codex_data_products_spark.streaming.dedup_ivm import (
        simhash_pairs_snapshot,
    )

    return {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs_snapshot(spark, state).collect()
    }


def test_simhash_ivm_matches_from_scratch_on_documents(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_simhash_batch,
        bootstrap_simhash_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "sim_state")
    bootstrap_simhash_state(spark, state)
    for k in range(3):
        apply_simhash_batch(docs.filter(F.col("doc_id") % 3 == k), state, k)
        prefix = docs.filter(F.col("doc_id") % 3 <= k)
        assert _simhash_ivm(spark, state) == _simhash_from_scratch(
            spark, prefix, tmp_path, f"k{k}"
        )


def test_simhash_ivm_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Crash-replay: re-applying the last batch (state v=k retained)
    re-derives the identical snapshot — and the streaming drain lands
    the same view as direct applies."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_simhash_batch,
        bootstrap_simhash_state,
        run_simhash_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    state = str(tmp_path / "sim_state")
    bootstrap_simhash_state(spark, state)
    apply_simhash_batch(docs.filter("doc_id % 2 = 0"), state, 0)
    apply_simhash_batch(docs.filter("doc_id % 2 = 1"), state, 1)
    want = _simhash_ivm(spark, state)
    apply_simhash_batch(docs.filter("doc_id % 2 = 1"), state, 1)  # replay
    assert _simhash_ivm(spark, state) == want

    # streaming drain twin: one availableNow batch over the same rows
    src = str(tmp_path / "sim_src")
    docs.coalesce(1).write.parquet(f"{src}/d1")
    state2 = str(tmp_path / "sim_state2")
    bootstrap_simhash_state(spark, state2)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_simhash_maintenance(stream, state2, str(tmp_path / "sim_ckpt"))
    assert _simhash_ivm(spark, state2) == want


def test_simhash_wide_ivm_matches_from_scratch(spark, sf_dir, tmp_path):
    """The 4x8 wide banding (the production setting) maintained
    incrementally equals from-scratch dedup_simhash_wide after every
    batch."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import dedup_simhash_wide
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_simhash_batch,
        bootstrap_simhash_state,
        simhash_pairs_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "sim_wide_state")
    bootstrap_simhash_state(spark, state)
    for k in range(2):
        apply_simhash_batch(
            docs.filter(F.col("doc_id") % 2 == k), state, k, banding="4x8"
        )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs_snapshot(spark, state).collect()
    }
    d = str(tmp_path / "wide_scratch")
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")
    want = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]),
         r["hamming"])
        for r in dedup_simhash_wide(spark, d).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Cluster-grain dedup IVM (streaming/dedup_ivm.apply_cluster_batch,
# VERDICT r7 #4): the maintained (doc_id, component_id) view must equal
# from-scratch dedup_connected_components over the surviving corpus
# after any sequence of add/remove batches; additions merge via the
# label-grain contraction, removals recompute ONLY the affected
# components; a replayed batch is a no-op.
# ---------------------------------------------------------------------------


def _cc_from_scratch(spark, docs_df, tmp_path, tag):
    from codex_data_products_spark.queries.dedup import (
        dedup_connected_components,
    )

    d = str(tmp_path / f"cc_scratch_{tag}")
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    return {
        (r["doc_id"], r["component_id"])
        for r in dedup_connected_components(spark, d).collect()
    }


def _cc_ivm(spark, state):
    from codex_data_products_spark.streaming.dedup_ivm import (
        cluster_snapshot,
    )

    return {
        (r["doc_id"], r["component_id"])
        for r in cluster_snapshot(spark, state).collect()
    }


def test_cluster_ivm_additions_match_from_scratch(spark, sf_dir, tmp_path):
    """Three modulo add-batches: the maintained labels equal the batch
    CC after EVERY batch (cross-batch pairs must merge components that
    were separate in earlier snapshots)."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "cluster_state")
    bootstrap_cluster_state(spark, state)
    for k in range(3):
        apply_cluster_batch(docs.filter(F.col("doc_id") % 3 == k), state, k)
        assert _cc_ivm(spark, state) == _cc_from_scratch(
            spark, docs.filter(F.col("doc_id") % 3 <= k), tmp_path, f"b{k}"
        )


def test_cluster_ivm_removal_splits_only_affected_components(
    spark, sf_dir, tmp_path
):
    """Remove members of real multi-doc components: the maintained view
    must equal from-scratch CC over the survivors (splits included),
    and rows of components that contained no removed doc must be
    untouched."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        cluster_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "cluster_state")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs, state, 0)

    before = dict(_cc_ivm(spark, state))
    # pick removal targets from real multi-doc components
    by_comp = {}
    for d, c in before.items():
        by_comp.setdefault(c, []).append(d)
    multi = sorted(c for c, ms in by_comp.items() if len(ms) >= 3)
    assert multi, "fixture needs at least one 3+ member component"
    # remove one non-label member from the first, and the LABEL doc of
    # the second (forces a label change even without a split)
    removed = [sorted(by_comp[multi[0]])[1]]
    if len(multi) > 1:
        removed.append(multi[1])
    empty = spark.createDataFrame([], docs.schema)
    apply_cluster_batch(empty, state, 1, remove=removed)

    survivors = docs.filter(~F.col("doc_id").isin(removed))
    assert _cc_ivm(spark, state) == _cc_from_scratch(
        spark, survivors, tmp_path, "postrm"
    )
    # untouched components keep their exact labeling
    touched_labels = {before[d] for d in removed}
    got = dict(_cc_ivm(spark, state))
    for d, c in before.items():
        if c not in touched_labels and d not in removed:
            assert got[d] == c, f"untouched doc {d} relabeled"


def test_cluster_ivm_replay_and_drain(spark, sf_dir, tmp_path):
    """Replaying a batch (anchored reads) is a no-op, and the
    foreachBatch drain lands the same snapshots as direct applies."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        run_cluster_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "cluster_state")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs.filter("doc_id % 2 = 0"), state, 0)
    apply_cluster_batch(docs.filter("doc_id % 2 = 1"), state, 1)
    want = _cc_ivm(spark, state)
    apply_cluster_batch(docs.filter("doc_id % 2 = 1"), state, 1)  # replay
    assert _cc_ivm(spark, state) == want

    src = str(tmp_path / "cluster_feed")
    docs.filter("doc_id % 2 = 0").write.parquet(f"{src}/d0")
    state2 = str(tmp_path / "cluster_state2")
    bootstrap_cluster_state(spark, state2)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_cluster_maintenance(stream, state2, str(tmp_path / "cluster_ckpt"))
    assert _cc_ivm(spark, state2) == _cc_from_scratch(
        spark, docs.filter("doc_id % 2 = 0"), tmp_path, "drain"
    )


def test_cluster_ivm_remove_then_readd_two_batch_replace(
    spark, sf_dir, tmp_path
):
    """The documented two-batch replace protocol over the APPEND-ONLY
    pair log: remove a multi-component's member docs in one batch,
    re-add them in the next. The removal tombstone must kill the doc's
    OLD pairs but not the re-add batch's NEW pairs (tombstones apply
    only to pairs from batches <= the removal batch), so the final view
    equals from-scratch CC over the final corpus — including the
    re-added docs back in their components."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        simhash_pairs_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "cluster_state")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs, state, 0)

    by_comp = {}
    for d, c in _cc_ivm(spark, state):
        by_comp.setdefault(c, []).append(d)
    multi = sorted(c for c, ms in by_comp.items() if len(ms) >= 2)
    assert multi, "fixture needs a multi-doc component"
    target = sorted(by_comp[multi[0]])[0]  # the label doc itself

    empty = spark.createDataFrame([], docs.schema)
    apply_cluster_batch(empty, state, 1, remove=[target])
    assert not simhash_pairs_snapshot(spark, state).filter(
        (F.col("doc_a") == target) | (F.col("doc_b") == target)
    ).take(1), "tombstone must kill the removed doc's pairs"

    apply_cluster_batch(docs.filter(F.col("doc_id") == target), state, 2)
    assert simhash_pairs_snapshot(spark, state).filter(
        (F.col("doc_a") == target) | (F.col("doc_b") == target)
    ).take(1), "re-added doc's post-removal pairs must survive tombstone"
    assert _cc_ivm(spark, state) == _cc_from_scratch(
        spark, docs, tmp_path, "readd"
    )


def test_pair_log_compaction_preserves_snapshot(spark, sf_dir, tmp_path):
    """compact_pair_log collapses history <= upto into one complete
    compact dir: the snapshot is bit-identical before and after, a
    TORN compaction attempt (no _SUCCESS) is invisible to readers,
    maintenance keeps working on top of a compacted log, and GC leaves
    only the compact floor plus later batches."""
    import os

    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        compact_simhash_pairs,
        simhash_pairs_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "compact_state")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs.filter("doc_id % 3 = 0"), state, 0)
    apply_cluster_batch(docs.filter("doc_id % 3 = 1"), state, 1, remove=[0])
    apply_cluster_batch(docs.filter("doc_id % 3 = 2"), state, 2)

    def snap():
        return {
            tuple(r)
            for r in simhash_pairs_snapshot(spark, state).collect()
        }

    want = snap()
    assert want

    # a torn compaction attempt (dir exists, no _SUCCESS) is ignored
    torn = f"{state}/sim_pairs/compact=1"
    os.makedirs(torn)
    assert snap() == want
    os.rmdir(torn)

    compact_simhash_pairs(spark, state, upto=2, gc=False)
    assert snap() == want
    compact_simhash_pairs(spark, state, upto=2, gc=True)
    assert snap() == want
    names = sorted(os.listdir(f"{state}/sim_pairs"))
    assert names == ["batch=3", "compact=2"], names

    # maintenance continues on top of the compacted log
    extra = docs.filter("doc_id = 0")  # re-add the removed doc
    apply_cluster_batch(extra, state, 3)
    assert simhash_pairs_snapshot(spark, state).filter(
        (F.col("doc_a") == 0) | (F.col("doc_b") == 0)
    ).count() >= 0
    assert _cc_ivm(spark, state) == _cc_from_scratch(
        spark, docs, tmp_path, "postcompact"
    )


def test_expire_dedup_state_keeps_replay_window(spark, sf_dir, tmp_path):
    """Retention GC over the remaining VERSIONED state (the MinHash
    ``df`` aggregate — the doc-grain tables are append logs now):
    keep_last=2 keeps head and head-1 (the replay window), the
    log-structured dirs are untouched, the snapshot is unchanged, and
    a replay of the HEAD batch still works after expiry."""
    import os

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_dedup_batch,
        bootstrap_dedup_state,
        expire_dedup_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "expire_state")
    bootstrap_dedup_state(spark, state)
    for k in range(3):
        apply_dedup_batch(docs.filter(f"doc_id % 3 = {k}"), state, k)
    want = _ivm_pairs(spark, state)

    removed = expire_dedup_state(state, keep_last=2)
    assert "df/v=0" in removed and "df/v=1" in removed
    assert sorted(os.listdir(f"{state}/df")) == ["v=2", "v=3"]
    # the append logs (bands, pairs, shingles) are not retention-GC'd
    assert sorted(os.listdir(f"{state}/bands")) == [
        f"batch={k}" for k in range(4)
    ]
    assert _ivm_pairs(spark, state) == want
    # replay of the head batch (reads df v=2 + the logs) still works
    apply_dedup_batch(docs.filter("doc_id % 3 = 2"), state, 2)
    assert _ivm_pairs(spark, state) == want


def test_cluster_pair_state_writes_are_delta_sized(spark, sf_dir, tmp_path):
    """The O(delta) property the append-structured log exists for: a
    batch's sim_pairs/batch=<k> partition holds ONLY pairs involving
    that batch's docs — never a rewrite of the accumulated pair set."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        simhash_pairs_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "cluster_state")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs.filter("doc_id % 2 = 0"), state, 0)
    apply_cluster_batch(docs.filter("doc_id % 2 = 1"), state, 1)

    batch2 = spark.read.parquet(f"{state}/sim_pairs/batch=2")
    assert not batch2.filter(
        (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0)
    ).take(1), "batch 2's partition must not re-write batch 1's pairs"
    total = simhash_pairs_snapshot(spark, state).count()
    assert total > batch2.count(), "snapshot unions the log partitions"


def test_cluster_maintenance_auto_compaction(spark, sf_dir, tmp_path):
    """compact_every folds the maintenance pass into the drain: after
    the run, history sits in a compact floor plus at-most-N trailing
    batch dirs, versioned state keeps only the replay window, and the
    maintained view still equals from-scratch CC."""
    import os

    from codex_data_products_spark.streaming.dedup_ivm import (
        bootstrap_cluster_state,
        run_cluster_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "feed")
    for k in range(2):
        docs.filter(f"doc_id % 2 = {k}").write.parquet(f"{src}/d{k}")
    state = str(tmp_path / "auto_state")
    bootstrap_cluster_state(spark, state)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_cluster_maintenance(
        stream, state, str(tmp_path / "ckpt"), compact_every=1
    )
    pair_dirs = sorted(os.listdir(f"{state}/sim_pairs"))
    assert any(d.startswith("compact=") for d in pair_dirs), pair_dirs
    assert not any(
        d.startswith("batch=") and int(d[6:]) <= max(
            int(d2[8:]) for d2 in pair_dirs if d2.startswith("compact=")
        )
        for d in pair_dirs
    ), pair_dirs
    # the doc-grain logs compact alongside the pairs: one floor, no
    # superseded batch dirs
    assert sorted(os.listdir(f"{state}/clusters")) == ["compact=2"]
    assert sorted(os.listdir(f"{state}/sim")) == ["compact=2"]
    want = _cc_from_scratch(spark, docs, tmp_path, "auto")
    assert _cc_ivm(spark, state) == want

    # crash-replay on top of auto-compaction: a lost checkpoint commit
    # re-runs the LAST batch (reads state v=1, which the keep_last=2
    # expiry retained; the pair snapshot pinned to version 1 is only
    # consumed by the removal path, which insert drains never take) —
    # the re-applied fold plus re-compaction must converge to the same
    # state
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        compact_simhash_pairs,
        expire_dedup_state,
    )

    apply_cluster_batch(docs.filter("doc_id % 2 = 1"), state, 1)
    compact_simhash_pairs(spark, state, upto=2)
    expire_dedup_state(state, keep_last=2)
    assert _cc_ivm(spark, state) == want


# ---------------------------------------------------------------------------
# Substring-coverage IVM (streaming/substring_ivm): the maintained
# per-doc duplicated-span coverage must equal from-scratch
# dedup_substring after every insert batch — including the retroactive
# repair when a new doc flips an old gram's occurrence from 1 to >= 2;
# a replayed batch is a no-op; compaction preserves the snapshot.
# ---------------------------------------------------------------------------


def _substr_from_scratch(spark, docs_df, tmp_path, tag):
    from codex_data_products_spark.queries.dedup import dedup_substring

    d = str(tmp_path / f"substr_scratch_{tag}")
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    return {
        (r["doc_id"], r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in dedup_substring(spark, d).collect()
    }


def _substr_ivm(spark, state, version=None):
    from codex_data_products_spark.streaming.substring_ivm import (
        substring_coverage_snapshot,
    )

    return {
        (r["doc_id"], r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in substring_coverage_snapshot(
            spark, state, version=version
        ).collect()
    }


def test_substring_ivm_matches_from_scratch_per_batch(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "substr_state")
    bootstrap_substring_state(spark, state)
    for k in range(3):
        apply_substring_batch(
            docs.filter(F.col("doc_id") % 3 == k), state, k
        )
        assert _substr_ivm(spark, state) == _substr_from_scratch(
            spark, docs.filter(F.col("doc_id") % 3 <= k), tmp_path, f"b{k}"
        )


def test_substring_ivm_flip_repairs_old_doc(spark, tmp_path):
    """Batch 0's doc has zero duplicated spans; batch 1 ships a copy of
    its prefix, flipping the shared grams 1 -> 2 — the OLD doc's
    coverage row must appear retroactively, with the exact coverage the
    batch query computes."""
    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
    )

    shared = "a b c d e f g h i j"
    b0 = spark.createDataFrame(
        [(1, shared + " u1 u2 u3 u4")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(2, shared + " w1 w2 w3 w4 w5")], "doc_id long, text string"
    )
    state = str(tmp_path / "substr_flip")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(b0, state, 0)
    assert _substr_ivm(spark, state) == set()
    apply_substring_batch(b1, state, 1)
    # windows at pos 1..3 are shared → coverage 1..10 in both docs
    assert _substr_ivm(spark, state) == {
        (1, 14, 10, 0.714286),
        (2, 15, 10, 0.666667),
    }
    # time travel: the v=1 snapshot still shows the empty pre-flip view
    assert _substr_ivm(spark, state, version=1) == set()


def test_substring_state_format_marker(spark, tmp_path):
    """The substring state dir carries a format marker: bootstrap stamps
    it, a dir holding gram history WITHOUT it fails fast naming the
    missing marker and how to stamp it, and a stamped dir resumes."""
    import os

    import pytest as _pytest

    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
    )

    shared = "a b c d e f g h i j"
    b0 = spark.createDataFrame(
        [(1, shared + " u1 u2 u3 u4")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(2, shared + " w1 w2 w3 w4 w5")], "doc_id long, text string"
    )
    state = str(tmp_path / "substr_marker")
    marker = os.path.join(state, "_FORMAT_V2_GRAM_LONG")
    bootstrap_substring_state(spark, state)
    assert os.path.isfile(marker)
    apply_substring_batch(b0, state, 0)
    assert os.path.isdir(os.path.join(state, "grams"))

    os.remove(marker)
    with _pytest.raises(RuntimeError) as err:
        apply_substring_batch(b1, state, 1)
    msg = str(err.value)
    assert "no format marker" in msg and marker in msg
    assert "predates" not in msg

    open(marker, "w").close()  # the stamp the message asks for
    apply_substring_batch(b1, state, 1)
    assert _substr_ivm(spark, state) == {
        (1, 14, 10, 0.714286),
        (2, 15, 10, 0.666667),
    }


def test_substring_ivm_replay_and_compaction(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
        compact_substring_coverage,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "substr_replay")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(docs.filter("doc_id % 2 = 0"), state, 0)
    apply_substring_batch(docs.filter("doc_id % 2 = 1"), state, 1)
    want = _substr_ivm(spark, state)
    apply_substring_batch(docs.filter("doc_id % 2 = 1"), state, 1)  # replay
    assert _substr_ivm(spark, state) == want
    compact_substring_coverage(spark, state, upto=2)
    assert _substr_ivm(spark, state) == want
    # the compacted state still accepts (and converges on) a NON-EMPTY
    # next batch — one that copies an existing doc wholesale, so the
    # compacted gram log must be consulted for the 1 -> >=2 flip repair
    # of that old doc (an empty batch can never catch a lost-grams
    # compaction bug: no delta, no flips, prior grams never read).
    first = docs.orderBy("doc_id").select("doc_id", "text").first()
    new_id = docs.agg(F.max("doc_id")).first()[0] + 1
    copy = spark.createDataFrame(
        [(new_id, first["text"])], "doc_id long, text string"
    )
    apply_substring_batch(copy, state, 2)
    assert _substr_ivm(spark, state) == _substr_from_scratch(
        spark,
        docs.select("doc_id", "text").unionByName(copy),
        tmp_path,
        "postcompact",
    )


def test_substring_ivm_flip_after_compaction(spark, tmp_path):
    """Compaction must not lose the gram log's history: a batch applied
    AFTER compact_substring_coverage that copies a pre-compaction doc's
    k-gram window still has to repair that old doc's coverage. Guards
    the grams/coverage OFFSET numbering (grams are keyed batch=<k>,
    coverage batch=<k+1>): compacting both at the coverage head used to
    leave a future-labeled grams floor that _prior_grams rejected,
    silently dropping every prior gram."""
    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
        compact_substring_coverage,
    )

    shared = "a b c d e f g h i j"
    b0 = spark.createDataFrame(
        [(1, shared + " u1 u2 u3 u4")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(2, "x1 x2 x3 x4 x5 x6 x7 x8")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, shared + " w1 w2 w3 w4 w5")], "doc_id long, text string"
    )
    state = str(tmp_path / "substr_flip_compact")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(b0, state, 0)
    apply_substring_batch(b1, state, 1)
    assert _substr_ivm(spark, state) == set()
    compact_substring_coverage(spark, state, upto=2)
    assert _substr_ivm(spark, state) == set()
    # batch 2 copies doc 1's prefix: the shared grams flip 1 -> 2 and
    # doc 1 must be repaired retroactively from the COMPACTED gram log
    apply_substring_batch(b2, state, 2)
    assert _substr_ivm(spark, state) == {
        (1, 14, 10, 0.714286),
        (3, 15, 10, 0.666667),
    }
    # and batch 2's own gram dir is not shadowed by the compact floor:
    # a later batch copying doc 3's pos-8 window ("h i j w1..w5", an
    # 8-gram unique to doc 3) must repair doc 3 retroactively
    b3 = spark.createDataFrame(
        [(4, "h i j w1 w2 w3 w4 w5 y1")], "doc_id long, text string"
    )
    apply_substring_batch(b3, state, 3)
    snap = _substr_ivm(spark, state)
    assert (4, 9, 8, 0.888889) in snap
    assert {r for r in snap if r[0] == 3} == {(3, 15, 15, 1.0)}


def test_substring_ivm_streaming_drain(spark, sf_dir, tmp_path):
    from codex_data_products_spark.streaming.substring_ivm import (
        bootstrap_substring_state,
        run_substring_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "substr_feed")
    docs.write.parquet(src)
    state = str(tmp_path / "substr_stream_state")
    bootstrap_substring_state(spark, state)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    run_substring_maintenance(stream, state, str(tmp_path / "substr_ckpt"))
    assert _substr_ivm(spark, state) == _substr_from_scratch(
        spark, docs, tmp_path, "drain"
    )


# ---------------------------------------------------------------------------
# embedding-cosine dedup IVM (streaming/emb_dedup_ivm.py)
# ---------------------------------------------------------------------------


def _emb_pairs_sorted(df):
    return sorted(
        (r["vec_a"], r["vec_b"], r["cosine"]) for r in df.collect()
    )


def test_emb_dedup_ivm_matches_from_scratch_and_replays(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        _SYNTHETIC_EMB_THRESHOLD,
        dedup_embedding_cosine,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        apply_emb_batch,
        emb_pairs_snapshot,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    state = str(tmp_path / "embdd")
    for k in range(3):
        apply_emb_batch(
            spark,
            state,
            k,
            adds=emb.filter(F.col("vec_id") % 3 == k).select(
                "vec_id", "embedding", "label"
            ),
            threshold=_SYNTHETIC_EMB_THRESHOLD,
        )
    want = _emb_pairs_sorted(dedup_embedding_cosine(spark, sf_dir))
    assert _emb_pairs_sorted(emb_pairs_snapshot(spark, state)) == want
    # crashed batch 2 replays idempotently
    apply_emb_batch(
        spark,
        state,
        2,
        adds=emb.filter(F.col("vec_id") % 3 == 2).select(
            "vec_id", "embedding", "label"
        ),
        threshold=_SYNTHETIC_EMB_THRESHOLD,
    )
    assert _emb_pairs_sorted(emb_pairs_snapshot(spark, state)) == want


def test_emb_dedup_ivm_removal_time_travel_and_compaction(
    spark, sf_dir, tmp_path
):
    import os

    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        _SYNTHETIC_EMB_THRESHOLD,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        apply_emb_batch,
        compact_emb_state,
        emb_pairs_snapshot,
        emb_snapshot,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    state = str(tmp_path / "embdd_rm")
    for k in range(3):
        apply_emb_batch(
            spark,
            state,
            k,
            adds=emb.filter(F.col("vec_id") % 3 == k).select(
                "vec_id", "embedding", "label"
            ),
            threshold=_SYNTHETIC_EMB_THRESHOLD,
        )
    pre_removal = _emb_pairs_sorted(emb_pairs_snapshot(spark, state))
    apply_emb_batch(
        spark,
        state,
        3,
        removes=emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"),
    )
    # head: no surviving pair touches a removed vector
    head = emb_pairs_snapshot(spark, state)
    assert (
        head.filter(
            (F.col("vec_a") % 7 == 3) | (F.col("vec_b") % 7 == 3)
        ).count()
        == 0
    )
    # time travel to v2 still shows the pre-removal pairs
    assert (
        _emb_pairs_sorted(emb_pairs_snapshot(spark, state, version=2))
        == pre_removal
    )
    # compaction at the head preserves the snapshot and GCs batch dirs
    want = _emb_pairs_sorted(head)
    compact_emb_state(spark, state, upto=3)
    assert _emb_pairs_sorted(emb_pairs_snapshot(spark, state)) == want
    for log in ("embpairs", "emb"):
        names = set(os.listdir(f"{state}/{log}"))
        assert f"compact=3" in names
        assert not any(n.startswith("batch=") for n in names)
    # a post-compaction batch layers on the floor: re-add the victims
    apply_emb_batch(
        spark,
        state,
        4,
        adds=emb.filter(F.col("vec_id") % 7 == 3).select(
            "vec_id", "embedding", "label"
        ),
        threshold=_SYNTHETIC_EMB_THRESHOLD,
    )
    assert (
        _emb_pairs_sorted(emb_pairs_snapshot(spark, state)) == pre_removal
    )
    assert emb_snapshot(spark, state).count() == emb.count()


def test_ann_ivm_streaming_drain_matches_batch(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.ann_ivm import (
        ann_postings_snapshot,
        apply_ann_batch,
        bootstrap_ann_state,
        run_ann_maintenance,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feed = emb.select("vec_id", "embedding")
    src = str(tmp_path / "ann_feed")
    feed.write.parquet(src)
    state = str(tmp_path / "ann_stream")
    bootstrap_ann_state(spark, state, emb.filter(F.col("vec_id") % 3 == 0))
    stream = spark.readStream.schema(feed.schema).parquet(src)
    run_ann_maintenance(stream, state, str(tmp_path / "ann_ckpt"))
    twin = str(tmp_path / "ann_twin")
    bootstrap_ann_state(spark, twin, emb.filter(F.col("vec_id") % 3 == 0))
    apply_ann_batch(spark, twin, 0, adds=feed)
    got = sorted(
        (r["vec_id"], r["cell"], r["min_d2"])
        for r in ann_postings_snapshot(spark, state).collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"], r["min_d2"])
        for r in ann_postings_snapshot(spark, twin).collect()
    )
    assert got == want and got


def test_emb_dedup_streaming_drain_matches_batch(spark, sf_dir, tmp_path):
    from codex_data_products_spark.queries.dedup import (
        _SYNTHETIC_EMB_THRESHOLD,
        dedup_embedding_cosine,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        emb_pairs_snapshot,
        run_emb_dedup_maintenance,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feed = emb.select("vec_id", "embedding", "label")
    src = str(tmp_path / "embdd_feed")
    feed.write.parquet(src)
    state = str(tmp_path / "embdd_stream")
    stream = spark.readStream.schema(feed.schema).parquet(src)
    run_emb_dedup_maintenance(
        stream,
        state,
        str(tmp_path / "embdd_ckpt"),
        threshold=_SYNTHETIC_EMB_THRESHOLD,
    )
    assert _emb_pairs_sorted(
        emb_pairs_snapshot(spark, state)
    ) == _emb_pairs_sorted(dedup_embedding_cosine(spark, sf_dir))


def test_substring_ivm_occ_log_is_delta_sized_and_sums_to_histogram(
    spark, sf_dir, tmp_path
):
    """Round 9: the occ table is an append-log of per-batch deltas —
    a batch's occ write is its OWN gram counts (earlier dirs never
    change), and the summed log equals the from-scratch histogram."""
    import os

    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import positional_grams
    from codex_data_products_spark.streaming.logstate import _log_union
    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
    )

    def _dir_bytes(p):
        total = 0
        for root, _, fnames in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in fnames
            )
        return total

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "substr_occ")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(docs.filter("doc_id % 3 = 0"), state, 0)
    b0 = _dir_bytes(f"{state}/occ_delta/batch=0")
    apply_substring_batch(docs.filter("doc_id % 3 = 1"), state, 1)
    # batch 0's occ bytes never change; batch 1 wrote only its delta
    assert _dir_bytes(f"{state}/occ_delta/batch=0") == b0
    apply_substring_batch(docs.filter("doc_id % 3 = 2"), state, 2)
    got = {
        (r["g"], r["occ"])
        for r in _log_union(spark, f"{state}/occ_delta", "g long, occ long")
        .groupBy("g")
        .agg(F.sum("occ").cast("long").alias("occ"))
        .collect()
    }
    want = {
        (r["g"], r["occ"])
        for r in positional_grams(docs)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
        .collect()
    }
    assert got == want


def test_substring_ivm_removal_unflip_repairs_surviving_doc(
    spark, tmp_path
):
    """Two docs share an 8-gram window; removing one must UN-mark the
    survivor (2->1 unflip), and re-adding it must re-mark both — the
    removal path's mirror of the flip-repair test."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import dedup_substring
    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
        substring_coverage_snapshot,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"{shared} one unique tail for doc one right here"),
        (2, f"totally different head text {shared} and more words"),
        (3, "an unrelated document with no overlap at all present"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "substr_rm")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(docs.filter("doc_id <= 2"), state, 0)
    apply_substring_batch(docs.filter("doc_id = 3"), state, 1)

    def snap():
        return {
            r["doc_id"]: r["dup_tokens"]
            for r in substring_coverage_snapshot(spark, state).collect()
        }

    before = snap()
    assert before[1] >= 8 and before[2] >= 8  # shared window marked
    # remove doc 2: doc 1's shared grams drop to occ=1 — unflip repair
    apply_substring_batch(docs.limit(0), state, 2, remove=[2])
    after_rm = snap()
    assert 2 not in after_rm
    # the view carries only docs WITH duplicated spans (oracle shape:
    # the aggregate groups over duplicated positions) — the unflip
    # repair must therefore make the survivor VANISH, not read 0
    assert 1 not in after_rm, "survivor un-marked by the 2->1 unflip"
    assert 3 not in after_rm
    # re-add doc 2: both marked again, equal to from-scratch
    apply_substring_batch(docs.filter("doc_id = 2"), state, 3)
    src = str(tmp_path / "substr_rm_src")
    docs.write.parquet(f"{src}/documents.parquet")
    want = {
        r["doc_id"]: r["dup_tokens"]
        for r in dedup_substring(spark, src).collect()
    }
    assert snap() == want


def test_vocab_ivm_stream_equals_batch_and_compacts(spark, sf_dir, tmp_path):
    from codex_data_products_spark.queries.text import vocab_top_terms
    from codex_data_products_spark.streaming.text_ivm import (
        apply_vocab_batch,
        compact_vocab_state,
        run_vocab_maintenance,
        vocab_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(vocab_top_terms(spark, sf_dir))

    # batch path: three applies + crash replay of the last
    state = str(tmp_path / "vocab")
    for k in range(3):
        apply_vocab_batch(docs.filter(f"doc_id % 3 = {k}"), state, k)
    assert rows(vocab_snapshot(spark, state)) == want
    apply_vocab_batch(docs.filter("doc_id % 3 = 2"), state, 2)
    assert rows(vocab_snapshot(spark, state)) == want

    # compaction preserves the view; a post-compaction batch layers
    import os

    compact_vocab_state(spark, state, upto=1)
    assert rows(vocab_snapshot(spark, state)) == want
    assert "compact=1" in set(os.listdir(f"{state}/tf_delta"))

    # streaming drain equals batch
    feed = docs.select("doc_id", "lang", "text")
    src = str(tmp_path / "vocab_feed")
    feed.write.parquet(src)
    sstate = str(tmp_path / "vocab_stream")
    stream = spark.readStream.schema(feed.schema).parquet(src)
    run_vocab_maintenance(stream, sstate, str(tmp_path / "vocab_ckpt"))
    assert rows(vocab_snapshot(spark, sstate)) == want


def test_vocab_ivm_remove_then_readd_equals_from_scratch(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.text import vocab_top_terms
    from codex_data_products_spark.streaming.text_ivm import (
        apply_vocab_batch,
        vocab_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    state = str(tmp_path / "vocab_rm")
    for k in range(2):
        apply_vocab_batch(docs.filter(f"doc_id % 2 = {k}"), state, k)
    want_full = rows(vocab_snapshot(spark, state))
    victims = [
        r["doc_id"]
        for r in docs.filter("doc_id % 5 = 2").select("doc_id").collect()
    ]
    apply_vocab_batch(docs.limit(0), state, 2, remove=victims)
    # removal == never-ingested
    src = str(tmp_path / "vocab_rm_src")
    docs.filter(~F.col("doc_id").isin(victims)).write.parquet(
        f"{src}/documents.parquet"
    )
    assert rows(vocab_snapshot(spark, state)) == rows(
        vocab_top_terms(spark, src)
    )
    # re-add restores the full view exactly
    apply_vocab_batch(docs.filter(F.col("doc_id").isin(victims)), state, 3)
    assert rows(vocab_snapshot(spark, state)) == want_full


# ---------------------------------------------------------------------------
# Round 10: DataFrame-fed removals (bulk retraction without a driver
# collect) and combined add+remove batches (atomic replace semantics).
# ---------------------------------------------------------------------------


def test_cluster_ivm_dataframe_removes_match_list_removes(
    spark, sf_dir, tmp_path
):
    """The same removal fed as a list and as a one-column DataFrame
    must produce identical maintained snapshots."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    removed = [
        r["doc_id"]
        for r in docs.filter("doc_id % 5 = 1").select("doc_id").collect()
    ]
    empty = spark.createDataFrame([], docs.schema)
    snaps = {}
    for tag, rm in (
        ("list", removed),
        ("frame", docs.filter("doc_id % 5 = 1").select("doc_id")),
    ):
        state = str(tmp_path / f"cluster_dfrm_{tag}")
        bootstrap_cluster_state(spark, state)
        apply_cluster_batch(docs, state, 0)
        apply_cluster_batch(empty, state, 1, remove=rm)
        snaps[tag] = _cc_ivm(spark, state)
    assert snaps["list"] == snaps["frame"]
    assert snaps["frame"] == _cc_from_scratch(
        spark, docs.filter(~F.col("doc_id").isin(removed)), tmp_path, "dfrm"
    )


def test_cluster_ivm_bulk_dataframe_retraction_no_driver_collect(
    spark, sf_dir, tmp_path
):
    """A 10^5-id removes DataFrame (covering every doc plus absent ids)
    retracts the whole corpus — the removal path never materializes the
    id set on the driver, so release-grain size is unbounded."""
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        sim_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "cluster_bulk_rm")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs, state, 0)
    removes = spark.range(0, 100_000).select(
        F.col("id").alias("doc_id")
    )
    empty = spark.createDataFrame([], docs.schema)
    apply_cluster_batch(empty, state, 1, remove=removes)
    assert _cc_ivm(spark, state) == set()
    assert sim_snapshot(spark, state).count() == 0


def test_substring_ivm_dataframe_removes(spark, sf_dir, tmp_path):
    """DataFrame-fed removal == never-ingested (parity with the list
    path's oracle contract)."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "substr_dfrm")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(docs, state, 0)
    rm = docs.filter("doc_id % 7 = 3").select("doc_id")
    apply_substring_batch(docs.limit(0), state, 1, remove=rm)
    removed = [r["doc_id"] for r in rm.collect()]
    assert _substr_ivm(spark, state) == _substr_from_scratch(
        spark,
        docs.filter(~F.col("doc_id").isin(removed)),
        tmp_path,
        "dfrm",
    )


def test_vocab_ivm_same_batch_add_remove_is_atomic_replace(
    spark, sf_dir, tmp_path
):
    """A doc_id in BOTH a batch's adds and removes is replaced
    atomically: old counts retract (from the strictly-earlier token
    log), new counts land, snapshot == from-scratch over the replaced
    corpus. Removes arrive as a DataFrame."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.text import vocab_top_terms
    from codex_data_products_spark.streaming.text_ivm import (
        apply_vocab_batch,
        vocab_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    state = str(tmp_path / "vocab_replace")
    apply_vocab_batch(docs, state, 0)
    victims = docs.filter("doc_id % 11 = 4").select("doc_id")
    replacement = docs.filter("doc_id % 11 = 4").withColumn(
        "text", F.concat(F.lit("replacement corpus text payload "), "text")
    )
    apply_vocab_batch(replacement, state, 1, remove=victims)
    src = str(tmp_path / "vocab_replace_src")
    docs.filter("doc_id % 11 <> 4").unionByName(replacement).write.parquet(
        f"{src}/documents.parquet"
    )
    assert rows(vocab_snapshot(spark, state)) == rows(
        vocab_top_terms(spark, src)
    )


def test_emb_dedup_ivm_combined_add_remove_batch(spark, sf_dir, tmp_path):
    """A combined add+remove batch: the dead vectors' pairs must NOT be
    re-derived against the batch's delta (the strictly-older tombstone
    cannot kill same-batch pair rows), and a vec_id in both adds and
    removes re-enters with its new vector. Maintained pairs == a
    from-scratch single-batch build over the post-batch corpus."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        _SYNTHETIC_EMB_THRESHOLD,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        apply_emb_batch,
        emb_pairs_snapshot,
        emb_snapshot,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    state = str(tmp_path / "emb_combined")
    apply_emb_batch(
        spark, state, 0, adds=emb, threshold=_SYNTHETIC_EMB_THRESHOLD
    )
    # batch 1: remove every % 7 == 3 vector AND re-add half of them
    # (vec_id % 14 == 3) with a shifted label — plus genuinely new ids
    removes = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    readds = emb.filter(F.col("vec_id") % 14 == 3).withColumn(
        "label", (F.col("label") + 1) % 8
    )
    fresh = emb.filter(F.col("vec_id") % 13 == 5).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    adds = readds.unionByName(fresh)
    apply_emb_batch(
        spark,
        state,
        1,
        adds=adds,
        removes=removes,
        threshold=_SYNTHETIC_EMB_THRESHOLD,
    )
    # from-scratch: one batch over the post-change corpus
    survivors = emb.filter(F.col("vec_id") % 7 != 3).unionByName(adds)
    scratch = str(tmp_path / "emb_combined_scratch")
    apply_emb_batch(
        spark,
        scratch,
        0,
        adds=survivors,
        threshold=_SYNTHETIC_EMB_THRESHOLD,
    )
    assert _emb_pairs_sorted(
        emb_pairs_snapshot(spark, state)
    ) == _emb_pairs_sorted(emb_pairs_snapshot(spark, scratch))
    assert emb_snapshot(spark, state).count() == survivors.count()


def test_remove_frame_rejects_ambiguous_multicolumn_frame(spark):
    """ADVICE r10: a multi-column removal frame WITHOUT the expected id
    column must raise — silently guessing columns[0] would cast an
    arbitrary column to removal ids and corrupt tombstones."""
    import pytest as _pytest

    from codex_data_products_spark.streaming.logstate import (
        _remove_frame,
    )

    # happy paths: named column anywhere, or a single unnamed column
    named = spark.createDataFrame(
        [(1, "x"), (2, "y")], "doc_id long, text string"
    )
    rem, nonempty = _remove_frame(spark, named)
    assert nonempty and sorted(
        r["doc_id"] for r in rem.collect()
    ) == [1, 2]
    single = spark.createDataFrame([(3,), (4,)], "ids long")
    rem, _ = _remove_frame(spark, single)
    assert sorted(r["doc_id"] for r in rem.collect()) == [3, 4]
    # ambiguous: two columns, neither named doc_id → raise, not guess
    messy = spark.createDataFrame(
        [(7, 8)], "other long, another long"
    )
    with _pytest.raises(ValueError, match="ambiguous"):
        _remove_frame(spark, messy)


# ---------------------------------------------------------------------------
# Cross-family combined-batch parity (VERDICT r10 #2): all six
# remove-capable maintainers share ONE contract — atomic replace
# (streaming.dedup_ivm.COMBINED_BATCH_CONTRACT). The gate: a combined
# add+remove batch at k yields the same head snapshot as a remove-only
# batch at k followed by an add-only batch at k+1.
# ---------------------------------------------------------------------------


def _parity_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    removes = docs.filter("doc_id % 7 = 3").select("doc_id")
    readds = docs.filter("doc_id % 14 = 3").withColumn(
        "text", F.concat(F.lit("replaced payload text "), "text")
    )
    fresh = docs.filter("doc_id % 13 = 5").withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs, removes, readds.unionByName(fresh)


def _parity_vecs(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    removes = emb.filter("vec_id % 7 = 3").select("vec_id")
    readds = emb.filter("vec_id % 14 = 3").withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + F.lit(0.25).cast("float")),
    )
    fresh = emb.filter("vec_id % 13 = 5").withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    return emb, removes, readds.unionByName(fresh)


def _combined_parity_cluster(spark, sf_dir, root):
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        cluster_snapshot,
    )

    docs, removes, adds = _parity_docs(spark, sf_dir)
    empty = docs.limit(0)

    def run(state, combined):
        bootstrap_cluster_state(spark, state)
        apply_cluster_batch(docs, state, 0)
        if combined:
            apply_cluster_batch(adds, state, 1, remove=removes)
        else:
            apply_cluster_batch(empty, state, 1, remove=removes)
            apply_cluster_batch(adds, state, 2)
        return sorted(
            (r["doc_id"], r["component_id"])
            for r in cluster_snapshot(spark, state).collect()
        )

    return run(f"{root}/a", True), run(f"{root}/b", False)


def _combined_parity_substring(spark, sf_dir, root):
    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
        substring_coverage_snapshot,
    )

    docs, removes, adds = _parity_docs(spark, sf_dir)
    empty = docs.limit(0)

    def run(state, combined):
        bootstrap_substring_state(spark, state)
        apply_substring_batch(docs, state, 0)
        if combined:
            apply_substring_batch(adds, state, 1, remove=removes)
        else:
            apply_substring_batch(empty, state, 1, remove=removes)
            apply_substring_batch(adds, state, 2)
        return sorted(
            tuple(r)
            for r in substring_coverage_snapshot(spark, state).collect()
        )

    return run(f"{root}/a", True), run(f"{root}/b", False)


def _combined_parity_vocab(spark, sf_dir, root):
    from codex_data_products_spark.streaming.text_ivm import (
        apply_vocab_batch,
        vocab_snapshot,
    )

    docs, removes, adds = _parity_docs(spark, sf_dir)
    empty = docs.limit(0)

    def run(state, combined):
        apply_vocab_batch(docs, state, 0)
        if combined:
            apply_vocab_batch(adds, state, 1, remove=removes)
        else:
            apply_vocab_batch(empty, state, 1, remove=removes)
            apply_vocab_batch(adds, state, 2)
        return sorted(
            tuple(r) for r in vocab_snapshot(spark, state, top=50).collect()
        )

    return run(f"{root}/a", True), run(f"{root}/b", False)


def _combined_parity_emb(spark, sf_dir, root):
    from codex_data_products_spark.queries.dedup import (
        _SYNTHETIC_EMB_THRESHOLD,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        apply_emb_batch,
        emb_pairs_snapshot,
        emb_snapshot,
    )

    emb, removes, adds = _parity_vecs(spark, sf_dir)

    def run(state, combined):
        apply_emb_batch(
            spark, state, 0, adds=emb, threshold=_SYNTHETIC_EMB_THRESHOLD
        )
        if combined:
            apply_emb_batch(
                spark, state, 1, adds=adds, removes=removes,
                threshold=_SYNTHETIC_EMB_THRESHOLD,
            )
        else:
            apply_emb_batch(
                spark, state, 1, removes=removes,
                threshold=_SYNTHETIC_EMB_THRESHOLD,
            )
            apply_emb_batch(
                spark, state, 2, adds=adds,
                threshold=_SYNTHETIC_EMB_THRESHOLD,
            )
        pairs = sorted(
            (r["vec_a"], r["vec_b"], r["cosine"])
            for r in emb_pairs_snapshot(spark, state).collect()
        )
        corpus = sorted(
            r["doc_id"] for r in emb_snapshot(spark, state).collect()
        )
        return pairs, corpus

    return run(f"{root}/a", True), run(f"{root}/b", False)


def _combined_parity_ann(spark, sf_dir, root):
    from codex_data_products_spark.streaming.ann_ivm import (
        ann_postings_snapshot,
        apply_ann_batch,
        bootstrap_ann_state,
    )

    emb, removes, adds = _parity_vecs(spark, sf_dir)

    def run(state, combined):
        bootstrap_ann_state(spark, state, emb)
        apply_ann_batch(
            spark, state, 0, adds=emb.select("vec_id", "embedding")
        )
        add_vecs = adds.select("vec_id", "embedding")
        if combined:
            apply_ann_batch(spark, state, 1, adds=add_vecs, removes=removes)
        else:
            apply_ann_batch(spark, state, 1, removes=removes)
            apply_ann_batch(spark, state, 2, adds=add_vecs)
        return sorted(
            (r["vec_id"], r["cell"], r["min_d2"])
            for r in ann_postings_snapshot(spark, state).collect()
        )

    return run(f"{root}/a", True), run(f"{root}/b", False)


def _combined_parity_pq(spark, sf_dir, root):
    from codex_data_products_spark.queries.similarity import _pq_codebook
    from codex_data_products_spark.streaming.ann_ivm import (
        apply_pq_batch,
        bootstrap_pq_state,
        pq_codes_snapshot,
    )

    emb, removes, adds = _parity_vecs(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir, train_where="vec_id % 3 = 0")

    def run(state, combined):
        bootstrap_pq_state(spark, state, cb)
        apply_pq_batch(
            spark, state, 0, adds=emb.select("vec_id", "embedding")
        )
        add_vecs = adds.select("vec_id", "embedding")
        if combined:
            apply_pq_batch(spark, state, 1, adds=add_vecs, removes=removes)
        else:
            apply_pq_batch(spark, state, 1, removes=removes)
            apply_pq_batch(spark, state, 2, adds=add_vecs)
        return sorted(
            (r["vec_id"], r["s"], r["code"], r["min_d"])
            for r in pq_codes_snapshot(spark, state).collect()
        )

    return run(f"{root}/a", True), run(f"{root}/b", False)


_PARITY_FAMILIES = {
    "cluster": _combined_parity_cluster,
    "substring": _combined_parity_substring,
    "vocab": _combined_parity_vocab,
    "emb": _combined_parity_emb,
    "ann": _combined_parity_ann,
    "pq": _combined_parity_pq,
}


@pytest.mark.parametrize("family", sorted(_PARITY_FAMILIES))
def test_combined_batch_equals_remove_then_add(
    spark, sf_dir, tmp_path, family
):
    """The shared atomic-replace contract's corollary, verified for
    every remove-capable maintainer: combined add+remove batch ==
    remove-only batch then add-only batch. The add set includes ids
    from the remove set (atomic replace) and genuinely fresh ids."""
    combined, sequential = _PARITY_FAMILIES[family](
        spark, sf_dir, str(tmp_path / family)
    )
    assert combined == sequential
    assert combined, "parity sets must be non-trivial"


def test_run_dedup_maintenance_replay_with_auto_compaction(
    spark, tmp_path
):
    """VERDICT r10 #3 companion: with the default ratio-triggered
    auto-compaction, a lost-checkpoint replay still converges — the
    compact floor supersedes the replayed batch's re-written dirs in
    _log_union, so the snapshot equals from-scratch and DF counts are
    never double-applied."""
    from codex_data_products_spark.streaming.dedup_ivm import (
        DedupStateDirs,
        bootstrap_dedup_state,
        run_dedup_maintenance,
    )
    from codex_data_products_spark.streaming.merge import read_table

    src = str(tmp_path / "docs_ac")
    state = str(tmp_path / "dedup_state_ac")
    tail = " ".join(f"t{j}" for j in range(59))
    docs = spark.createDataFrame(
        [
            (1, f"{tail} onlyx"),
            (2, f"{tail} onlyy"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.parquet(f"{src}/d0")
    bootstrap_dedup_state(spark, state)

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_dedup_maintenance(stream, state, ckpt)  # default ratio

    drain(str(tmp_path / "ckpt_ac1"))  # batch 0 + auto-compact
    drain(str(tmp_path / "ckpt_ac2"))  # replay of batch_id=0

    import os

    dirs = DedupStateDirs(state)
    assert any(
        d.startswith("compact=") for d in os.listdir(dirs.pairs)
    ), "ratio trigger fired with no floor present"
    got = _ivm_pairs(spark, state)
    assert got == _lsh_from_scratch(docs)
    assert got
    df_counts = {
        r["shingle"]: r["df"]
        for r in read_table(spark, dirs.df).collect()
    }
    assert max(df_counts.values()) <= 2
