"""Embedding operators — pluggable backends + deterministic mock.

The reference embeds via HF (mean-pooling, 512-token truncation, L2
normalize — embeddings.py:53-63,134-143) or OpenAI (empty-text → zero
vector, embeddings.py:180-203), always L2-normalized so IP == cosine.

Spark shape: an Arrow-batched pandas UDF wrapping a pluggable encoder.
For correctness runs the encoder is the deterministic HASH MOCK
(FIXTURES.md §1.5): element i = seeded_hash60(text, i) / P ∈ [0,1), then
L2 normalize; the empty-string → zero-vector guard is preserved.  The mock
is also expressible as a pure Column expression (and as DuckDB SQL), which
is what the oracle-checked queries use — the pandas UDF path exists for
real model backends.
"""

from __future__ import annotations

# Module-level on purpose: pandas_udf resolves the stringified `pd.Series`
# annotations (PEP 563, `from __future__ import annotations`) against this
# module's globals when `embed_with_backend` builds its UDF — a lazy import
# inside the function would be a local and the hint lookup would fail.
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import (
    MERSENNE_P,
    seeded_hash60,
    seeded_hash60_sql,
)
from vector_graph_rag_spark.functions.memo import gateway_memo
from vector_graph_rag_spark.functions.vector import l2_normalize


@gateway_memo
def mock_embedding(col: Column | str, dim: int = 8) -> Column:
    """Deterministic unit vector from text (JVM-side, oracle-checkable).

    Empty/blank text → zero vector (OpenAI guard, embeddings.py:180-203).
    Element i hashes "{i}|{text}" so dimensions are independent.  Built
    once per JVM for a column name (``functions/memo``).
    """
    c = F.col(col) if isinstance(col, str) else col
    raw = F.array(
        *[
            seeded_hash60(F.concat(F.lit(f"{i}|"), c), i % 32).cast("double")
            / F.lit(float(MERSENNE_P))
            for i in range(dim)
        ]
    )
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    return F.when(F.trim(c) == "", zero).otherwise(l2_normalize(raw))


def mock_embedding_sql(expr: str, dim: int = 8) -> str:
    """DuckDB twin of :func:`mock_embedding` (pre-normalization handled
    with an inline norm subexpression)."""
    raw = []
    for i in range(dim):
        keyed = "('{0}|' || {1})".format(i, expr)
        raw.append(
            f"(CAST({seeded_hash60_sql(keyed, i % 32)} AS DOUBLE) / {float(MERSENNE_P)!r})"
        )
    raw_list = "[" + ", ".join(raw) + "]"
    norm = f"sqrt(list_dot_product({raw_list}, {raw_list}))"
    unit = "[" + ", ".join(f"({e} / {norm})" for e in raw) + "]"
    zero = "[" + ", ".join("0.0" for _ in range(dim)) + "]"
    return f"(CASE WHEN trim({expr}) = '' THEN {zero} ELSE {unit} END)"


# Instruction templates, verbatim parity with the reference
# (embeddings.py:17-30): instruction applies to QUERIES only; documents
# pass through untouched in both families.
INSTRUCTION_TEMPLATES = {
    "qwen3": {
        "query": "Instruct: {instruction}\nQuery: {text}",
        "document": "{text}",
        "default_instruction": "Given a question, retrieve passages that contain the answer",
    },
    "bge": {
        "query": "{instruction}: {text}",
        "document": "{text}",
        "default_instruction": "Represent this sentence for searching relevant passages",
    },
}

# Reference truncates at the tokenizer with max_length=512
# (embeddings.py:134-136).  The real tokenizer is environment-blocked here,
# so the stand-in truncates to 512 whitespace tokens BEFORE encoding — same
# contract (truncation precedes pooling), pluggable `tokenize=` for a real
# BPE tokenizer.
MAX_EMBED_TOKENS = 512


def model_family(model_name: str) -> str | None:
    """Template-family detection, parity with embeddings.py:43-50."""
    m = model_name.lower()
    if "qwen" in m and "embed" in m:
        return "qwen3"
    if "bge" in m:
        return "bge"
    return None


def is_openai_model(model_name: str) -> bool:
    """Backend routing, parity with embeddings.py:33-40: the three named
    models plus the ``text-embedding`` prefix select the OpenAI wrapper."""
    openai_models = {
        "text-embedding-3-small",
        "text-embedding-3-large",
        "text-embedding-ada-002",
    }
    return model_name in openai_models or model_name.startswith("text-embedding")


def resolve_instruction_template(
    model_name: str,
    instruction: str | None,
    instruction_template: str | None,
) -> str | None:
    """The reference's constructor fallback (embeddings.py:93-95): an
    instruction WITHOUT an explicit template adopts the detected model
    family's template; no instruction (or no detectable family) leaves the
    template as given."""
    if instruction and not instruction_template:
        return model_family(model_name) or instruction_template
    return instruction_template


def apply_instruction(
    texts: list[str],
    text_type: str = "query",
    instruction: str | None = None,
    instruction_template: str | None = None,
) -> list[str]:
    """Instruction application, parity with embeddings.py:96-112: no-op
    unless BOTH an instruction and a known template are configured; the
    document template is identity in every family."""
    if not instruction or not instruction_template:
        return texts
    template_config = INSTRUCTION_TEMPLATES.get(instruction_template)
    if not template_config:
        return texts
    template = template_config.get(text_type, "{text}")
    # NOTE: the default_instruction fallback is intentionally DEAD code — the
    # early return above fires whenever `instruction` is falsy, so the default
    # can never apply.  The reference has the identical quirk
    # (embeddings.py:96-112); kept bit-for-bit for parity.
    instr = instruction or template_config.get("default_instruction", "")
    return [template.format(instruction=instr, text=t) for t in texts]


def truncate_tokens(text: str, max_tokens: int = MAX_EMBED_TOKENS, tokenize=None) -> str:
    toks = (tokenize or str.split)(text)
    if len(toks) <= max_tokens:
        return text
    return " ".join(toks[:max_tokens])


class OpenAICompatEmbedder:
    """Real embedding backend speaking the OpenAI-compatible /embeddings
    protocol (reference embeddings.py:152-203) — an `embed_with_backend`
    encoder: ``encoder(texts) -> list[list[float]]``.

    Protocol notes, parity with the reference:
    - empty/blank texts are NEVER sent to the API; they come back as zero
      vectors (embeddings.py:180-193's guard), which the UDF's L2 step
      leaves at zero.
    - one Arrow batch = ONE request (the ``input`` list), matching the
      reference's batch_size-driven call shape (config.py:120-122).
    - responses are re-ordered by the API's ``index`` field — the spec
      allows out-of-order data rows.

    Like OpenAICompatRunner (llm/runner.py), the `openai` client package
    is preferred when importable; otherwise the protocol is spoken with
    stdlib urllib (same assembly, bearer auth, parse; 429/5xx exponential
    backoff) so the path is e2e-testable against a loopback server with
    neither client nor network.  Plain attributes only — instances pickle
    into the pandas-UDF closure."""

    _RETRYABLE = (429, 500, 502, 503, 504)

    def __init__(
        self,
        model: str,
        dim: int,
        base_url: str | None = None,
        api_key: str | None = None,
        max_retries: int = 3,
        backoff_s: float = 0.25,
        timeout_s: float = 60.0,
        force_stdlib: bool = False,
    ):
        self.model, self.dim = model, dim
        self.base_url, self.api_key = base_url, api_key
        self.max_retries, self.backoff_s = max_retries, backoff_s
        self.timeout_s, self.force_stdlib = timeout_s, force_stdlib

    def _post_stdlib(self, inputs: list[str]) -> list[list[float]]:
        import json
        import time
        import urllib.error
        import urllib.request

        url = (
            (self.base_url or "https://api.openai.com/v1").rstrip("/")
            + "/embeddings"
        )
        body = json.dumps({"model": self.model, "input": inputs}).encode()
        for attempt in range(self.max_retries + 1):
            req = urllib.request.Request(
                url,
                data=body,
                headers={
                    "Content-Type": "application/json",
                    "Authorization": f"Bearer {self.api_key or ''}",
                },
                method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                    payload = json.load(resp)
                rows = sorted(payload["data"], key=lambda r: r["index"])
                return [r["embedding"] for r in rows]
            except urllib.error.HTTPError as exc:
                if exc.code not in self._RETRYABLE or attempt >= self.max_retries:
                    raise
            except urllib.error.URLError:
                if attempt >= self.max_retries:
                    raise
            time.sleep(self.backoff_s * (2**attempt))
        raise RuntimeError("unreachable: retry loop exits by return or raise")

    def _embed_nonblank(self, inputs: list[str]) -> list[list[float]]:
        if not self.force_stdlib:
            try:
                from openai import OpenAI  # type: ignore
            except ImportError:
                pass
            else:
                client = OpenAI(
                    base_url=self.base_url,
                    api_key=self.api_key,
                    max_retries=self.max_retries,
                )
                resp = client.embeddings.create(model=self.model, input=inputs)
                rows = sorted(resp.data, key=lambda r: r.index)
                return [list(r.embedding) for r in rows]
        return self._post_stdlib(inputs)

    def __call__(self, texts: list[str]) -> list[list[float]]:
        nonblank = [(i, t) for i, t in enumerate(texts) if t and t.strip()]
        out: list[list[float]] = [[0.0] * self.dim for _ in texts]
        if nonblank:
            vecs = self._embed_nonblank([t for _, t in nonblank])
            # A short or ragged response must fail LOUDLY: zip() would
            # silently leave the tail as zero vectors / write ragged
            # rows into the embedding column (r15 ADVICE).
            if len(vecs) != len(nonblank):
                raise ValueError(
                    f"embedding backend returned {len(vecs)} vectors "
                    f"for {len(nonblank)} inputs"
                )
            for (i, _), v in zip(nonblank, vecs):
                if len(v) != self.dim:
                    raise ValueError(
                        f"embedding backend returned dim {len(v)}, "
                        f"expected {self.dim}"
                    )
                out[i] = list(v)
        return out


def embed_with_backend(
    df,
    text_col: str,
    encoder,
    dim: int,
    output_col: str = "embedding",
    text_type: str = "document",
    instruction: str | None = None,
    instruction_template: str | None = None,
    max_tokens: int = MAX_EMBED_TOKENS,
):
    """Arrow-batched pandas-UDF embedding with a pluggable encoder
    (signature: list[str] -> list[list[float]]), for real model backends.
    Preserves the reference's batch semantics (batch_size is the Arrow
    batch, config.py:120-122), instruction templating (queries only,
    embeddings.py:96-112), pre-pooling truncation (embeddings.py:134-136)
    and L2 normalization."""
    import numpy as np

    @F.pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        batch = apply_instruction(
            list(texts.fillna("")), text_type, instruction, instruction_template
        )
        batch = [truncate_tokens(t, max_tokens) for t in batch]
        vecs = encoder(batch)
        out = []
        for v in vecs:
            a = np.asarray(v, dtype="float32")
            n = float(np.linalg.norm(a))
            out.append((a / n if n > 0 else a).tolist())
        return pd.Series(out)

    return df.withColumn(output_col, _embed(F.col(text_col)))
