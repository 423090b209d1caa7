"""Unit tests for the scalar kernel — reference-semantics fidelity."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_normalize_phrase_matches_reference_semantics(spark):
    """processing_phrases (extractor.py:17-28): lower, non-alnum→space,
    strip ends only — internal multi-spaces preserved."""
    import re

    def reference_impl(s: str) -> str:
        return re.sub(r"[^A-Za-z0-9 ]", " ", s.lower()).strip()

    from vector_graph_rag_spark.functions.text import normalize_phrase

    cases = [
        "Hello, World!",
        "  padded  ",
        "UPPER-case_mix",
        "a.b,c;d",
        "double  space kept",
        "中文 CJK chars",
        "",
        "trailing! ",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string").select(
        "s", normalize_phrase("s").alias("n")
    )
    for row in df.collect():
        assert row.n == reference_impl(row.s), row


def test_ids_deterministic_and_case_insensitive(spark):
    from vector_graph_rag_spark.functions.text import entity_id

    df = spark.createDataFrame(
        [("Apple",), ("apple",), ("APPLE!",)], "name string"
    ).select(entity_id("name").alias("id"))
    ids = {r.id for r in df.collect()}
    assert len(ids) == 1  # case-insensitive dedup key (builder.py:76-85)


def test_hash60_matches_duckdb():
    import duckdb

    from vector_graph_rag_spark.functions.hashing import hash60_sql

    con = duckdb.connect()
    v = con.execute("SELECT " + hash60_sql("'hello'")).fetchone()[0]
    assert v >= 0


def test_hash60_spark_duckdb_parity(spark):
    import duckdb

    from vector_graph_rag_spark.functions.hashing import (
        hash60,
        hash60_sql,
        seeded_hash60,
        seeded_hash60_sql,
    )

    words = ["hello", "world", "Spark SQL", "ünïcode", "123", ""]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", hash60("w").alias("h"), seeded_hash60("w", 3).alias("h3")
    )
    got = {r.w: (r.h, r.h3) for r in df.collect()}
    con = duckdb.connect()
    for w in words:
        expected = con.execute(
            f"SELECT {hash60_sql('?')}, {seeded_hash60_sql('?', 3)}", [w, w]
        ).fetchone()
        assert got[w] == expected, w


def test_cosine_zero_guard(spark):
    from vector_graph_rag_spark.functions.vector import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    ).select(cosine("a", "b").alias("c"))
    vals = [r.c for r in df.collect()]
    assert vals == [0.0, 1.0]


# --- embedding backend parity (reference embeddings.py:17-30,96-112,134-136) --


def test_instruction_templates_query_only():
    from vector_graph_rag_spark.functions.embedding import (
        INSTRUCTION_TEMPLATES,
        apply_instruction,
        model_family,
    )

    # Family detection (embeddings.py:43-50).
    assert model_family("Qwen3-Embedding-0.6B") == "qwen3"
    assert model_family("BAAI/bge-large-en-v1.5") == "bge"
    assert model_family("facebook/contriever") is None

    # Instruction applies to queries ONLY; documents pass through verbatim
    # in both families (embeddings.py:17-30).
    instr = INSTRUCTION_TEMPLATES["qwen3"]["default_instruction"]
    q = apply_instruction(["what is x?"], "query", instr, "qwen3")
    assert q == [f"Instruct: {instr}\nQuery: what is x?"]
    d = apply_instruction(["a passage"], "document", instr, "qwen3")
    assert d == ["a passage"]

    b = apply_instruction(["find y"], "query", "Represent this", "bge")
    assert b == ["Represent this: find y"]

    # No instruction or unknown template → no-op (embeddings.py:100-105).
    assert apply_instruction(["t"], "query", None, "qwen3") == ["t"]
    assert apply_instruction(["t"], "query", "i", None) == ["t"]
    assert apply_instruction(["t"], "query", "i", "nope") == ["t"]


def test_instruction_template_text_pinned_verbatim():
    """The template STRINGS, pinned as literals against the reference's
    INSTRUCTION_TEMPLATES (embeddings.py:17-30) — reading them back from
    the module under test would pass even if they drifted."""
    from vector_graph_rag_spark.functions.embedding import INSTRUCTION_TEMPLATES

    assert INSTRUCTION_TEMPLATES["qwen3"]["query"] == "Instruct: {instruction}\nQuery: {text}"
    assert INSTRUCTION_TEMPLATES["qwen3"]["document"] == "{text}"
    assert (
        INSTRUCTION_TEMPLATES["qwen3"]["default_instruction"]
        == "Given a question, retrieve passages that contain the answer"
    )
    assert INSTRUCTION_TEMPLATES["bge"]["query"] == "{instruction}: {text}"
    assert INSTRUCTION_TEMPLATES["bge"]["document"] == "{text}"
    assert (
        INSTRUCTION_TEMPLATES["bge"]["default_instruction"]
        == "Represent this sentence for searching relevant passages"
    )
    assert set(INSTRUCTION_TEMPLATES) == {"qwen3", "bge"}


def test_resolve_instruction_template_constructor_fallback():
    """embeddings.py:93-95: instruction + no explicit template → detected
    family; explicit template always wins; no instruction → unchanged."""
    from vector_graph_rag_spark.functions.embedding import resolve_instruction_template

    assert resolve_instruction_template("Qwen3-Embedding-0.6B", "find", None) == "qwen3"
    assert resolve_instruction_template("BAAI/bge-m3", "find", None) == "bge"
    # Explicit template is never overridden by the family.
    assert resolve_instruction_template("Qwen3-Embedding-0.6B", "find", "bge") == "bge"
    # No instruction → fallback never fires.
    assert resolve_instruction_template("Qwen3-Embedding-0.6B", None, None) is None
    # Instruction but undetectable family → stays None (reference guards on
    # self.model_family).
    assert resolve_instruction_template("facebook/contriever", "find", None) is None


def test_is_openai_model_routing():
    """embeddings.py:33-40: the three named models + the prefix rule."""
    from vector_graph_rag_spark.functions.embedding import is_openai_model

    assert is_openai_model("text-embedding-3-small")
    assert is_openai_model("text-embedding-3-large")
    assert is_openai_model("text-embedding-ada-002")
    assert is_openai_model("text-embedding-future-99")  # prefix rule
    assert not is_openai_model("facebook/contriever")
    assert not is_openai_model("Qwen3-Embedding-0.6B")


def test_truncation_before_pooling():
    from vector_graph_rag_spark.functions.embedding import truncate_tokens

    long = " ".join(f"w{i}" for i in range(600))
    out = truncate_tokens(long)
    assert out.split() == [f"w{i}" for i in range(512)]
    assert truncate_tokens("short text") == "short text"
    assert truncate_tokens(long, max_tokens=3) == "w0 w1 w2"


def test_truncation_with_fixture_tokenizer():
    """The pluggable ``tokenize=`` path with a BPE-ish fixture tokenizer:
    the 512-token budget is counted in the TOKENIZER's units (the
    reference's max_length=512 counts model tokens, embeddings.py:134-136),
    and the boundary is exact — 512 tokens pass through untouched, 513 lose
    exactly the last one."""
    import re

    # Fixture tokenizer: word pieces of ≤2 chars (a crude BPE stand-in) —
    # "hello" → ["he", "ll", "o"], so token count ≠ whitespace count.
    def bpe_ish(text: str) -> list[str]:
        return re.findall(r"\S{1,2}", text)

    from vector_graph_rag_spark.functions.embedding import truncate_tokens

    assert bpe_ish("hello") == ["he", "ll", "o"]
    # 256 five-char words = 768 bpe_ish tokens but only 256 whitespace
    # tokens: the fixture tokenizer must drive the budget, not str.split.
    text = " ".join("abcde" for _ in range(256))
    out = truncate_tokens(text, max_tokens=512, tokenize=bpe_ish)
    assert len(bpe_ish(out)) == 512
    # Exact boundary: a text of exactly 512 fixture tokens is unchanged.
    exact = " ".join("ab" for _ in range(512))
    assert truncate_tokens(exact, max_tokens=512, tokenize=bpe_ish) == exact
    # One over: exactly the last token is dropped (join normalizes spacing).
    over = exact + " zz"
    assert truncate_tokens(over, max_tokens=512, tokenize=bpe_ish) == exact


def test_embed_with_backend_applies_instruction_and_truncation(spark):
    from vector_graph_rag_spark.functions.embedding import (
        apply_instruction,
        embed_with_backend,
        truncate_tokens,
    )

    # The UDF runs in a worker process, so the encoder reports what it saw
    # THROUGH the embedding: v = (len(text), n_tokens, 1).  L2 normalization
    # preserves the ratios v0/v2 and v1/v2.
    def encoder(texts):
        return [[float(len(t)), float(len(t.split())), 1.0] for t in texts]

    long = " ".join(f"w{i}" for i in range(600))
    df = spark.createDataFrame([("q1",), (long,)], ["text"])
    rows = (
        embed_with_backend(
            df,
            "text",
            encoder,
            dim=3,
            text_type="query",
            instruction="Find it",
            instruction_template="bge",
            max_tokens=5,
        )
        .orderBy("text")
        .collect()
    )
    for row in rows:
        # Expected pipeline: instruction template first, truncation second
        # (instruction tokens count toward the budget, as tokenizer
        # max_length does in the reference).
        expected = truncate_tokens(
            apply_instruction([row.text], "query", "Find it", "bge")[0], 5
        )
        v = row.embedding
        assert abs(v[0] / v[2] - len(expected)) < 1e-3
        assert abs(v[1] / v[2] - len(expected.split())) < 1e-3
        assert len(expected.split()) <= 5
        # L2 normalization preserved.
        assert abs(sum(x * x for x in v) - 1.0) < 1e-5
    # Sanity on the expected strings themselves.
    assert apply_instruction(["q1"], "query", "Find it", "bge") == ["Find it: q1"]
    assert truncate_tokens(f"Find it: {long}", 5).split() == ["Find", "it:", "w0", "w1", "w2"]


def test_literal_helpers_roundtrip_doubles_bit_exactly(spark):
    """functions/literals.py claims repr->DOUBLE-cast literals preserve
    bits exactly (shortest round-trip repr + correctly rounded parse).
    Pin it on seeded random doubles plus the edge forms Spark's string
    cast must handle (negative zero, subnormal, inf, nan, int-valued)."""
    import math
    import random
    import struct

    from vector_graph_rag_spark.functions.literals import (
        int_double_map_lit,
        num_array_lit,
    )

    rng = random.Random(42)
    vals = [
        0.0, -0.0, 5e-324, -5e-324, float("inf"), float("-inf"), 1.0, -1e308,
        0.1, 1 / 3,
    ] + [struct.unpack("<d", struct.pack("<q", rng.getrandbits(63)))[0]
         for _ in range(200)]
    vals = [v for v in vals if not math.isnan(v)]  # nan != nan; checked apart
    got = (
        spark.range(1)
        .select(num_array_lit(vals, "array<double>").alias("a"))
        .collect()[0]["a"]
    )
    assert len(got) == len(vals)
    for g, v in zip(got, vals):
        assert struct.pack("<d", g) == struct.pack("<d", v), (g, v)
    # nan round-trips to nan (bit pattern may canonicalize; nan-ness is the contract)
    nan_back = (
        spark.range(1)
        .select(num_array_lit([float("nan")], "array<double>").alias("a"))
        .collect()[0]["a"][0]
    )
    assert math.isnan(nan_back)
    # the weight-map form: same doubles keyed by int, one JVM literal
    d = {i: v for i, v in enumerate(vals[:50])}
    m = (
        spark.range(1)
        .select(int_double_map_lit(d).alias("m"))
        .collect()[0]["m"]
    )
    assert {k: struct.pack("<d", x) for k, x in m.items()} == {
        k: struct.pack("<d", x) for k, x in d.items()
    }


def test_inline_rows_hostile_strings_and_width(spark):
    """ADVICE r17 hardening: (a) quote/backslash/newline payloads render
    through inline_rows identically to createDataFrame under BOTH values
    of spark.sql.parser.escapedStringLiterals; (b) a row wider than the
    schema raises instead of silently dropping trailing cells."""
    import pytest as _pytest

    from vector_graph_rag_spark.functions.literals import inline_rows

    payloads = [
        ("it's", 1),
        ("back\\slash", 2),
        ("new\nline", 3),
        ("tab\t'quoted'\\mix\n", 4),
        ("", 5),
        (None, 6),
    ]
    schema = "s string, n int"
    expected = [tuple(r) for r in spark.createDataFrame(payloads, schema).collect()]

    conf_key = "spark.sql.parser.escapedStringLiterals"
    original = spark.conf.get(conf_key, "false")
    try:
        for mode in ("false", "true"):
            spark.conf.set(conf_key, mode)
            got = [tuple(r) for r in inline_rows(spark, payloads, schema).collect()]
            assert sorted(got, key=str) == sorted(expected, key=str), mode
    finally:
        spark.conf.set(conf_key, original)

    with _pytest.raises(ValueError, match="row 1 has 3 cells"):
        inline_rows(spark, [("ok", 1), ("too", 2, "wide")], schema)


def test_run_overlapped_cancels_pending_on_failure():
    """ADVICE r17 hardening: when a task fails, queued-but-unstarted
    callables must NOT run after run_overlapped re-raises."""
    import threading
    import time as _time

    import pytest as _pytest

    from vector_graph_rag_spark.functions.concurrency import run_overlapped

    ran = []
    gate = threading.Event()

    def slow_ok():
        gate.wait(5)
        ran.append("ok")

    def fail():
        ran.append("fail")
        gate.set()
        raise RuntimeError("boom")

    def never():
        ran.append("never")

    # max_workers=2: slow_ok + fail start, `never` stays queued; fail's
    # exception must cancel it before the pool drains the queue.
    with _pytest.raises(RuntimeError, match="boom"):
        run_overlapped([slow_ok, fail, never], max_workers=2)
    _time.sleep(0.1)
    assert "never" not in ran and ran.count("fail") == 1


def test_ensure_parallel_scan_leaves_exchange_frames_unplanned(spark, tmp_path):
    """A frame with an Exchange in its physical plan comes back unchanged
    and without a Spark job (``df.rdd`` would run the upstream shuffle);
    a one-file scan is still spread to ``defaultParallelism``."""
    from vector_graph_rag_spark.functions.partitioning import ensure_parallel_scan

    sc = spark.sparkContext
    path = str(tmp_path / "one_file")
    spark.range(64).coalesce(1).write.parquet(path)
    grouped = (
        spark.read.parquet(path).groupBy((F.col("id") % 5).alias("g")).count()
    )
    group = "ensure_parallel_scan_exchange"
    sc.setJobGroup(group, group)
    try:
        out = ensure_parallel_scan(grouped)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60000)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert out is grouped

    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    spread = ensure_parallel_scan(scan)
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism


def test_gateway_memo_shares_constant_trees_and_builds_column_args_fresh(
    spark, monkeypatch
):
    """A memoized builder returns the same Column for the same name/int
    arguments, builds fresh for a Column argument (unhashable, e.g. a
    lambda variable) and for a new JVM gateway, and rows computed through
    the shared tree equal a fresh build's."""
    from pyspark import SparkContext

    from vector_graph_rag_spark.functions.embedding import mock_embedding
    from vector_graph_rag_spark.functions.memo import gateway_memo
    from vector_graph_rag_spark.functions.vector import cosine

    assert mock_embedding("text") is mock_embedding("text")
    assert cosine("a", "b") is cosine("a", "b")
    assert mock_embedding("text") is not mock_embedding("text", 4)
    assert mock_embedding(F.col("text")) is not mock_embedding(F.col("text"))

    builds = []

    @gateway_memo
    def toy(col, n=1):
        builds.append((col, n))
        return F.lit(n) if isinstance(col, str) else col

    toy("x")
    toy("x")
    toy("x", n=2)
    toy(F.col("x"))
    toy(F.col("x"))
    assert len(builds) == 4  # one per distinct hashable key, each Column fresh
    monkeypatch.setattr(SparkContext, "_gateway", object())
    toy("x")
    assert len(builds) == 5  # a new gateway never sees the old JVM's tree
    monkeypatch.undo()

    texts = spark.createDataFrame(
        [("alpha beta",), ("",), ("   ",), ("gamma",), (None,)], "text string"
    )
    other = spark.createDataFrame([("gamma",), ("delta",)], "text string")
    fresh = mock_embedding.__wrapped__("text")
    for df in (texts, other, texts):  # one shared tree across plans
        shared = [r[0] for r in df.select(mock_embedding("text")).collect()]
        assert shared == [r[0] for r in df.select(fresh).collect()]
