"""Behavioral tests for the scale/sampling operators (operators/scale.py)
beyond the differential oracle suite."""

from __future__ import annotations

import pytest

from conftest import SF_ORACLE

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
    queries,
)


def test_pack_shards_balances_tokens(spark):
    """All 8 shards populated; token totals within 2x of each other (the
    stratified deal's balance contract at 500 docs)."""
    rows = queries()["sampling_pack_shards"](spark, SF_ORACLE).collect()
    assert sorted(r.shard_id for r in rows) == list(range(8))
    totals = [r.total_tokens for r in rows]
    assert max(totals) <= 2 * min(totals), totals


def test_pii_scrub_redacts_injected_pii(spark):
    """Docs with doc_id % 15 == 0 carry both an injected email and phone;
    the scrub counts each exactly once, and the fingerprint of one such
    doc equals the md5 of the text rebuilt with literal [EMAIL]/[PHONE]
    redactions — proving the replacement actually happened, not just that
    some fingerprint was produced."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    rows = {
        r.doc_id: r
        for r in queries()["text_pii_scrub"](spark, SF_ORACLE).collect()
    }
    for doc_id, r in rows.items():
        assert r.n_emails == (1 if doc_id % 3 == 0 else 0), r
        assert r.n_phones == (1 if doc_id % 5 == 0 else 0), r
        assert r.scrubbed_fp is not None

    tbl = pq.read_table(
        os.path.join(SF_ORACLE, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pydict()
    texts = dict(zip(tbl["doc_id"], tbl["text"]))
    doc_id = next(d for d in sorted(texts) if d % 15 == 0)
    expected = texts[doc_id] + " contact [EMAIL] call [PHONE]"
    assert rows[doc_id].scrubbed_fp == hashlib.md5(expected.encode()).hexdigest()


@pytest.mark.parametrize(
    "subdir", ["plain", "with space", "pct%41"], ids=["plain", "space", "percent"]
)
def test_corpus_digest_tracks_content_not_just_names(spark, tmp_path, subdir):
    """Regression for the round-4 review finding: rewriting a corpus in
    place under the same file names must change the layout-cache digest,
    or cached partitioned/bucketed copies silently serve stale data.
    Spark reports a file under a space or a ``%`` as a percent-escaped
    URI; a digest that stats the escaped path finds no file and keys on
    the names alone."""
    import shutil
    import time

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        input_digest,
    )

    src = "/root/testdata/sf0.001/region.parquet"
    (tmp_path / subdir).mkdir()
    dst = str(tmp_path / subdir / "region.parquet")
    shutil.copy(src, dst)
    d1 = input_digest(spark.read.parquet(dst))
    time.sleep(0.01)
    shutil.copy(src, dst)  # same name, same bytes, new mtime
    d2 = input_digest(spark.read.parquet(dst))
    assert d1 != d2


def test_zorder_concentrates_2d_box(spark, tmp_path):
    """The point of the Morton layout: for a predicate selective in BOTH
    dimensions, the matching rows sit in strictly fewer files than under a
    1-D time sort of the same data at the same file granularity — that
    file concentration is exactly what parquet footer min/max skipping
    exploits. Also pins layout invariance (same rows back)."""
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.sinks import (
        write_zordered,
    )

    ev = register_views(spark, SF_ORACLE)["events"]
    per_file = max(ev.count() // 64, 1)
    z_path, t_path = str(tmp_path / "z"), str(tmp_path / "t")
    write_zordered(
        ev,
        z_path,
        F.col("user_id"),
        F.col("ts").cast("timestamp").cast("long"),
        max_records_per_file=per_file,
    )
    (
        ev.orderBy("ts")
        .write.option("maxRecordsPerFile", per_file)
        .parquet(t_path)
    )

    box = (
        F.col("user_id").between(40, 59)
        & (F.col("ts") >= F.lit("2024-01-08").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-22").cast("timestamp_ntz"))
    )

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where(box)
            .select(F.col("_metadata.file_name"))
            .distinct()
            .count()
        )

    z_files, t_files = files_touched(z_path), files_touched(t_path)
    assert z_files < t_files, f"zorder {z_files} vs ts-sort {t_files}"
    # Layout invariance: the rewritten copy holds exactly the same rows.
    orig = sorted(map(tuple, ev.where(box).collect()))
    back = sorted(map(tuple, spark.read.parquet(z_path).where(box).collect()))
    assert back == orig and len(back) > 0


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    """Compaction must collapse a many-tiny-file layout to the computed
    target count, keep the write parallel (repartition, not coalesce(1)),
    and preserve the rows exactly."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.sinks import (
        compact_files,
    )

    src, dst = str(tmp_path / "tiny"), str(tmp_path / "compacted")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 64
    n_out = compact_files(spark, src, dst, target_bytes=64 * 1024)
    assert 1 <= n_out < 16
    assert n_out == len(spark.read.parquet(dst).inputFiles())
    orig = sorted(map(tuple, spark.read.parquet(src).collect()))
    back = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert back == orig
    # sort_cols keeps footer stats selective: each output file's k-range
    # is contiguous after sortWithinPartitions.
    n2 = compact_files(
        spark, src, str(tmp_path / "c2"), target_bytes=64 * 1024,
        sort_cols=["k"],
    )
    assert n2 == n_out


def test_zorder_key_matches_reference_interleave(spark):
    """The Catalyst Morton key must equal a Python reference bit
    interleave on a full 32x32 grid — and therefore be bijective on it."""
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.sinks import (
        zorder_key,
    )

    rows = (
        spark.range(32 * 32)
        .select(
            (F.col("id") % 32).alias("a"),
            (F.col("id") / 32).cast("long").alias("b"),
        )
        .select("a", "b", zorder_key("a", "b").alias("z"))
        .collect()
    )

    def ref(a, b):
        out = 0
        for k in range(16):
            out |= ((a >> k) & 1) << (2 * k + 1)
            out |= ((b >> k) & 1) << (2 * k)
        return out

    assert all(r.z == ref(r.a, r.b) for r in rows)
    assert len({r.z for r in rows}) == 32 * 32  # bijective on the grid


def test_warehouse_tables_removed_at_process_exit(tmp_path):
    """A process that writes per-token warehouse tables must remove them at
    interpreter exit (r07 verdict: exited pytest/bench runs accumulated
    bk_*/cdc_* dirs for future sessions to age-prune). Run a child python
    that creates a bucketed table, let it exit cleanly, and assert its
    token left nothing behind."""
    import os
    import subprocess
    import sys

    wh = tmp_path / "wh"
    script = f"""
import sys; sys.path.insert(0, {os.path.abspath(os.path.join(os.path.dirname(__file__), os.pardir))!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.warehouse.dir", {str(wh)!r})
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
    session_token, ensure_bucketed_table,
)
df = spark.range(100).selectExpr("id AS key", "id * 2 AS v")
ensure_bucketed_table(spark, f"bk_exittest_deadbeef_{{session_token()}}", df, "key", "deadbeef")
assert any(d.startswith("bk_exittest") for d in __import__("os").listdir({str(wh)!r}))
print("TOKEN=" + session_token())
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    token = [l for l in out.stdout.splitlines() if l.startswith("TOKEN=")][0][6:]
    leftovers = [d for d in os.listdir(wh) if d.endswith(token)]
    assert not leftovers, leftovers


def test_prune_stale_warehouse_on_start(tmp_path):
    """Startup prune (r08 verdict item 7): a SIGKILLed predecessor's
    token-suffixed dirs must be removed as soon as any new process starts —
    dead-pid dirs immediately, live-pid dirs NEVER (ADVICE r09: parquet
    dir mtimes do not advance on read, so an age guard here would delete
    a live >1h session's tables out from under it; recycled-pid residue
    is the owning family's in-write prune's job), non-token dirs never."""
    import os
    import time

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        prune_stale_warehouse,
    )

    wh = tmp_path / "spark-warehouse"
    wh.mkdir()
    # Find a pid that is certainly dead (walk down from a huge value).
    dead = None
    for cand in range(2 ** 22 - 1, 2 ** 22 - 4096, -1):
        try:
            os.kill(cand, 0)
        except ProcessLookupError:
            dead = cand
            break
        except OSError:
            continue
    assert dead is not None
    (wh / f"bk_orders_abc123_{dead}_a1b2c3").mkdir()          # dead: prune
    (wh / f"cdc_base_def456_{os.getpid()}_ffffff").mkdir()    # ours: keep
    live_recent = wh / "bk_cust_abc_1_0a0b0c"                 # pid 1 alive
    live_recent.mkdir()
    live_old = wh / "cdc_inc_xyz_1_0d0e0f"                    # alive but old
    live_old.mkdir()
    os.utime(live_old, (time.time() - 7200, time.time() - 7200))
    (wh / "plain_table").mkdir()                              # no token: keep

    removed = prune_stale_warehouse(str(wh))

    left = sorted(os.listdir(wh))
    assert removed == 1
    assert left == sorted(
        [f"cdc_base_def456_{os.getpid()}_ffffff", "bk_cust_abc_1_0a0b0c",
         "cdc_inc_xyz_1_0d0e0f", "plain_table"]
    )


def test_pack_context_windows_conserves_tokens(spark):
    """Packing must conserve token mass (every doc lands in exactly one
    window), keep window ids contiguous from 0 per shard, and never
    start a window past the concatenated stream's length."""
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )

    rows = queries()["sampling_pack_context_windows"](spark, SF_ORACLE).collect()
    docs = register_views(spark, SF_ORACLE)["documents"]
    total = docs.select(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("t")
    ).first()["t"]
    assert sum(r.window_tokens for r in rows) == total
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.window_id)
    for shard, wins in by_shard.items():
        wins = sorted(wins)
        assert wins == list(range(len(wins))), (shard, wins)


def test_embedding_quantize_error_bounded(spark):
    """Symmetric int8 roundtrip error must be bounded per component by
    (scale/2)^2 — the definition of round-to-nearest — and zero only for
    degenerate vectors."""
    rows = queries()["embedding_quantize_error"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    for r in rows:
        bound_units = 64 * (r.qscale / 2) ** 2 * 1e12
        assert 0 <= r.sqerr_units <= bound_units + 64, r


def test_token_count_null_semantics_match_oracle(spark):
    """ADVICE r13 pin: the length-difference token count NULL-propagates,
    which must match the DuckDB oracle form LEN(STRING_SPLIT(text, ' '))
    row-for-row INCLUDING a NULL text row (both NULL, both skipped by
    SUM). Guards against anyone 'fixing' either side to legacy
    sizeOfNull=-1 or coalesce-to-zero semantics unilaterally."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [("a b  c",), ("", ), ("single",), (None,), ("x y",)]
    df = spark.createDataFrame(rows, "text string")
    got = [
        r.n
        for r in df.select(
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            )
            .cast("long")
            .alias("n")
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            "SELECT CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) "
            "FROM (VALUES ('a b  c'), (''), ('single'), (NULL), ('x y')) "
            "AS t(text)"
        ).fetchall()
    ]
    assert got == want, (got, want)
    assert got[3] is None  # the NULL row stays NULL on both engines
    # and SUM skips it identically
    s = df.select(
        F.sum(
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).cast("long")
        ).alias("s")
    ).first()["s"]
    assert s == sum(v for v in want if v is not None)
