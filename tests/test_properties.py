"""Property-based tests (hypothesis): randomized inputs against
reference-semantics invariants. Example counts are small because every
example runs a Spark job; the strategies bias toward the adversarial
region (extremes, nulls, ties, colons)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions import selectors as S
from commerce_logs_pipeline_spark.operators import windows

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # deterministic CI: same examples every run
)

LONGS = st.one_of(
    st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    st.sampled_from([0, 1, -1, 2 ** 63 - 1, -(2 ** 63)]),
    st.none(),
)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]), LONGS),
        min_size=1, max_size=40,
    ),
    ascending=st.booleans(),
    k=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_topk_two_phase_matches_window_property(spark, rows, ascending, k):
    """For ANY bigint data (extremes, nulls, duplicate keys) the two-phase
    top-k must select exactly the rows the window formulation selects."""
    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "grp string, id int, v long")
    a = windows.topk_per_group(df, ["grp"], "v", k, ascending=ascending,
                               tiebreak="id", two_phase=True)
    b = windows.topk_per_group(df, ["grp"], "v", k, ascending=ascending,
                               tiebreak="id", two_phase=False)
    assert sorted((r.grp, r.id) for r in a.collect()) == sorted(
        (r.grp, r.id) for r in b.collect()
    )


_IDENT = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-_.",
    min_size=1, max_size=12,
)
_BLOB = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-_.:/",
    min_size=1, max_size=30,
).filter(lambda s: not s.startswith("kubernetes/"))


@given(
    parts=st.lists(st.tuples(_IDENT, _IDENT, _IDENT, _BLOB),
                   min_size=1, max_size=10),
    k8s_prefix=st.booleans(),
)
@settings(**_SETTINGS)
def test_blob_event_key_roundtrip_property(spark, parts, k8s_prefix):
    """generate -> parse is the identity on (sub, env, type, blob) for any
    colon-free components and ANY blob name (colons included; the 4-way
    limited split absorbs them), with the kubernetes/ prefix stripped."""
    rows = [
        (sub, env, et, ("kubernetes/" + blob) if k8s_prefix else blob, blob)
        for sub, env, et, blob in parts
    ]
    df = spark.createDataFrame(
        rows, "sub string, env string, et string, blob string, want string"
    )
    out = df.select(
        "sub", "env", "et", "want",
        S.parse_blob_event_key(
            S.generate_blob_event_key(
                F.col("sub"), F.col("env"), F.col("et"), F.col("blob")
            )
        ).alias("p"),
    ).collect()
    for r in out:
        assert r.p.valid
        assert (r.p.subscription, r.p.environment, r.p.event_type,
                r.p.blob_name) == (r.sub, r.env, r.et, r.want)
        assert r.p.is_log_line == r.et.startswith("line-")


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=0, max_size=40,
    ),
)
@settings(**_SETTINGS)
def test_dup_clusters_matches_union_find_property(spark, edges):
    """For ANY random pair set (self-loops, duplicates, chains, dense
    blobs) the distributed connected components must equal a driver-side
    union-find's min-member labeling."""
    from commerce_logs_pipeline_spark.operators import dedup

    edges = [(a, b) for a, b in edges if a != b]
    # reference: classic union-find with path compression
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    expected = {
        v: min(members) for members in comp.values() for v in members
    }
    # singleton vertices only appear via all_ids
    ids = sorted({v for e in edges for v in e} | {99})
    expected[99] = expected.get(99, 99)

    if not edges:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    else:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    all_ids = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    with dedup.released_after():
        got = {
            r.id: r.cluster_id
            for r in dedup.dup_clusters(pairs, all_ids=all_ids).collect()
        }
    assert got == expected


_PII_FRAG = st.sampled_from(
    list("abzAZ09 .+-@_/:\t")
    + ["@example.com", "10.0.0.", "+1 555 01", "user", "99",
       "123-45-6789", "4111 1111 1111 1111", "4111-1111-1111-1112",
       "5500 0000 0000 0004", "1234 5678 9012 345"]
)


@given(
    texts=st.lists(
        st.one_of(
            st.lists(_PII_FRAG, min_size=0, max_size=20).map("".join),
            st.sampled_from([
                "a@b.co", "x y 1.2.3.4 z", "+12 345 6789", "....@....",
                "@", "1.2.3.4.5.6", "+1 2", "a@b.c",  # boundary shapes
                "4111111111111111", "411-11-1111 1111 111",  # cc/ssn edges
                "12345678901234567890123",  # >19-digit run: no CC match
                "000-00-0000", "9 999-99-99999",
            ]),
        ),
        min_size=1, max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_pii_patterns_portable_across_engines_property(spark, texts):
    """The PII regexes must match IDENTICALLY in Spark (Java regex) and
    DuckDB (RE2) — counts (incl. the Luhn-gated card count) AND redacted
    output — for arbitrary adversarial strings. This is the empirical pin
    under the 'portable patterns' contract in functions/text.py."""
    import duckdb

    from commerce_logs_pipeline_spark.functions.text import (
        CC_RX, EMAIL_RX, IPV4_RX, PHONE_RX, SSN_RX, pii_counts, redact_pii,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r.id: (r.p.n_email, r.p.n_ip, r.p.n_phone, r.p.n_ssn, r.p.n_cc,
               r.red)
        for r in df.select(
            "id", pii_counts(F.col("text")).alias("p"),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    red = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(t, ?, '<EMAIL>', 'g'), ?, '<IP>', 'g'),"
        " ?, '<SSN>', 'g'), ?, '<CC>', 'g'), ?, '<PHONE>', 'g')"
    )
    luhn = (
        "list_sum(list_transform(generate_series(1, "
        "length(replace(replace(c, ' ', ''), '-', ''))), i -> "
        "CASE WHEN i % 2 = 0 THEN "
        "CASE WHEN CAST(reverse(replace(replace(c, ' ', ''), '-', ''))[i] "
        "AS INT) * 2 > 9 "
        "THEN CAST(reverse(replace(replace(c, ' ', ''), '-', ''))[i] "
        "AS INT) * 2 - 9 "
        "ELSE CAST(reverse(replace(replace(c, ' ', ''), '-', ''))[i] "
        "AS INT) * 2 END "
        "ELSE CAST(reverse(replace(replace(c, ' ', ''), '-', ''))[i] "
        "AS INT) END)) % 10 = 0"
    )
    for i, t in enumerate(texts):
        row = con.execute(
            "SELECT len(regexp_extract_all(t, ?)),"
            "       len(regexp_extract_all(t, ?)),"
            "       len(regexp_extract_all(t, ?)),"
            "       len(regexp_extract_all(t, ?)),"
            "       len(list_filter(regexp_extract_all(t, ?), c -> "
            + luhn + ")), " + red +
            " FROM (SELECT ? AS t)",
            [EMAIL_RX, IPV4_RX, PHONE_RX, SSN_RX, CC_RX,
             EMAIL_RX, IPV4_RX, SSN_RX, CC_RX, PHONE_RX, t],
        ).fetchone()
        assert got[i] == tuple(row), (t, got[i], row)


@given(
    tokens=st.lists(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=60
    ),
    capacity=st.sampled_from([1, 64, 256]),
    n_shards=st.sampled_from([1, 3]),
)
@settings(**_SETTINGS)
def test_pack_greedy_matches_reference_scan_property(
    spark, tokens, capacity, n_shards
):
    """For ANY token-count multiset (zeros, oversize docs, capacity
    boundary hits) the distributed applyInPandas scan must produce exactly
    the assignments of a sequential reference implementation of the same
    greedy first-fit over the same hash ordering."""
    from commerce_logs_pipeline_spark.operators import packing

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    out = packing.pack_greedy(
        df, "n_tokens", capacity=capacity, n_shards=n_shards,
        seed=5, portable=True,
    ).collect()

    # reference: same portable hash, same ordering, plain Python scan
    import hashlib

    def h(i):
        return int(hashlib.md5(f"5:{i}".encode()).hexdigest()[:15], 16)

    expected = {}
    for shard in range(n_shards):
        docs = sorted(
            ((h(i), i, t) for i, t in enumerate(tokens)
             if h(i) % n_shards == shard),
        )
        pack, acc = -1, 0
        for _, i, t in docs:
            if pack < 0 or acc + t > capacity:
                pack, pos, acc = pack + 1, 0, t
            else:
                pos, acc = pos + 1, acc + t
            expected[i] = (shard, (shard << 40) + pack, pos, acc)

    got = {r.doc_id: (r.shard, r.pack_id, r.pack_pos, r.pack_fill)
           for r in out}
    assert got == expected


ADVERSARIAL_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.just("   \t\n "),
    st.text(max_size=120),
    # JSON-ish fragments: truncated objects, wrong types, deep quotes
    st.sampled_from([
        "{", "{}", '{"Logs":', '{"Logs": []}', '{"logs": 1}',
        '{"Logs": [{"message": null}]}',
        '{"thrown": {"message": "x"}}', '{"thrown": "plain string"}',
        '{"contextMap": {"k": "v"}, "timeMillis": "not-a-number"}',
        '{"timeMillis": -1, "level": "WEIRD"}',
        'GET /path HTTP/1.1" 200 -',
        '10.0.0.1 - - [32/Xxx/2024:99:99:99 +0000] "BAD',
        '\x00\x01 binary junk \xff',
        '{"Logs": [{"message": "' + "a" * 500 + '"}]}',
    ]),
)


@given(texts=st.lists(ADVERSARIAL_TEXT, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_parse_is_total_and_conserving_property(spark, texts):
    """The validation contract (P-J) under fuzz: for ANY text payload —
    null, blank, binary junk, truncated/ill-typed JSON, oversized
    messages — parse_transcripts must (a) never raise, (b) emit exactly
    one output row per input row, and (c) give every row a non-null
    category from the known set."""
    from datetime import datetime

    from commerce_logs_pipeline_spark.functions.parse import (
        parse_transcripts,
    )

    rows = [
        (f"c{i % 3}", i, "assistant", t, None, datetime(2024, 1, 1, 12, 0, i % 60))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = parse_transcripts(df).select("conv_id", "turn_idx", "category")
    got = out.collect()
    assert len(got) == len(rows)                     # conservation
    assert {(r.conv_id, r.turn_idx) for r in got} == {
        (r[0], r[1]) for r in rows
    }
    known = {"http", "app", "container", "proxy", "tool_call", "user_turn",
             "assistant_turn", "error", "parse_error", "skipped"}
    assert all(r.category in known for r in got)     # total categorization


# Strings for the driver-side bucket hash: NUL, CJK, non-BMP emoji and
# ASCII, with byte lengths spanning the XXH64 tail (1-byte, 4-byte lane,
# 8-byte lane) and 32-byte stripe branches. Surrogates cannot be UTF-8.
_HASH_TEXT = st.text(
    alphabet=st.one_of(
        st.sampled_from(["\x00", "a", "日", "😀", "é"]),
        st.characters(blacklist_categories=("Cs",)),
    ),
    min_size=0, max_size=48,
)


@given(texts=st.lists(_HASH_TEXT, min_size=1, max_size=64))
@example(texts=["", "\x00", "abc", "abcd", "abcdefg", "abcdefgh",
                "x" * 31, "x" * 32, "x" * 33, "x" * 64, "日本語のテキスト",
                "😀" * 8, "😀" * 9])
@settings(**_SETTINGS)
def test_driver_bucket_hash_matches_spark_property(spark, texts):
    """The Python XXH64 port behind read_conversation's bucket equals
    Spark's ``xxhash64`` and the writer's ``pmod(..., 16)`` bucket for
    every string (one Spark job per example)."""
    from commerce_logs_pipeline_spark.operators.router import (
        N_BUCKETS,
        conv_bucket,
        xxhash64,
    )

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = df.select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(N_BUCKETS)).cast("int").alias("b"),
    ).collect()
    assert len(got) == len(texts)
    for r in got:
        assert xxhash64(r.s.encode("utf-8")) == r.h, r.s
        assert conv_bucket(r.s) == r.b, r.s
