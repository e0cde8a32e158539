"""Prompt assembly + LLM summarization operators (O19/O20/O34/O35).

The reference formats top-k search hits into numbered context blocks and
calls OpenAI (reference: chatbot/app.py:193-280); the streaming SSE relay
(app.py:616-719) is a serving-tier concern outside the engine.  Here:

  O19 truncate_preview — substring previews / hard caps (app.py:216-225,
      651-654)
  O20 format_context   — numbered per-hit context blocks + per-query
      collect_list assembly (app.py:193-229)
  O35 fake_llm_summary — deterministic, dependency-free "LLM": echoes a
      structured digest of the prompt.  Real models plug in through the
      same (prompt -> summary) column contract via mapInPandas with an
      executor-local client, exactly like operators/embedding.py.

Everything here is pure column expressions except nothing — even the
fake LLM is a Catalyst expression, so batch RAG is whole-stage-codegen
end to end when using the fake.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PREVIEW_CHARS = 500       # app.py:216-225
MAX_CONTEXT_CHARS = 12_000  # app.py:651-654
SNIPPET_CHARS = 200       # index.html:621-622


def truncate_preview(col: Column, n: int = PREVIEW_CHARS, suffix: str = "...") -> Column:
    """O19: first n chars, appending suffix only when truncation happened."""
    return F.when(
        F.length(col) > n, F.concat(F.substring(col, 1, n), F.lit(suffix))
    ).otherwise(col)


def format_hit(rank: Column, title: Column, snippet: Column) -> Column:
    """One numbered context block (app.py:208-226 shape)."""
    return F.format_string("[%d] %s\n%s", rank, title, snippet)


def assemble_context(
    hits: DataFrame,
    group_cols: Sequence[str],
    rank_col: str,
    block_col: str,
    out_col: str = "context",
    max_chars: int = MAX_CONTEXT_CHARS,
) -> DataFrame:
    """O20: per query, rank-ordered blocks joined by blank lines, capped,
    with the number of blocks (`n_blocks`) from the same aggregate.

    collect_list under an explicit sort_array keeps assembly deterministic
    across partitionings (array_sort on (rank, block) pairs).
    """
    paired = hits.select(
        *group_cols, F.struct(F.col(rank_col).alias("r"), F.col(block_col).alias("b")).alias("_p")
    )
    return (
        paired.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("_p")).alias("_ps"))
        .select(
            *group_cols,
            F.substring(
                F.array_join(F.transform("_ps", lambda p: p["b"]), "\n\n"),
                1,
                max_chars,
            ).alias(out_col),
            F.size("_ps").cast("long").alias("n_blocks"),
        )
    )


SYSTEM_PROMPT = (
    "You are a legal research assistant. Answer strictly from the "
    "provided context; cite sources by their [n] markers."
)  # role parity with app.py:245-260


def user_prompt(question: Column, context: Column) -> Column:
    """O20: the user-message template (app.py:262-268 shape)."""
    return F.format_string(
        "Question: %s\n\nContext:\n%s\n\nAnswer concisely.", question, context
    )


def fake_llm_summary(prompt: Column, max_chars: int = 400) -> Column:
    """O35: deterministic fake summarizer.

    Output = digest tag (md5 of the prompt — proves the exact prompt fed
    the model) + the prompt's leading text.  Bit-reproducible, so RAG
    pipelines are hash-checkable end to end (SURVEY.md §5.4).
    """
    return F.format_string(
        "[fake-llm %s] %s",
        F.substring(F.md5(prompt), 1, 8),
        F.substring(prompt, 1, max_chars),
    )


def fake_llm_summary_py(prompt: str, max_chars: int = 400) -> str:
    """Python twin of the fake_llm_summary column (kept in sync; the
    serving tier's SSE stream and summarize_batch both use it)."""
    import hashlib

    p = prompt or ""
    return f"[fake-llm {hashlib.md5(p.encode()).hexdigest()[:8]}] {p[:max_chars]}"


def summarize_batch(
    df: DataFrame,
    prompt_col: str,
    out_col: str = "summary",
    model: str = "fake",
    max_tokens: int = 200,
):
    """O35 batch path: mapInPandas summarization with an executor-local
    client singleton — the same plug-point pattern as
    operators/embedding.embed_texts.  model='fake' (default) is the
    deterministic digest summarizer computed Python-side (equal to the
    fake_llm_summary column, tested); a real client (reference:
    gpt-4o-mini, app.py:269) is gated behind an openai import-try.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    if model != "fake":  # pragma: no cover - no network/key in container
        try:
            import openai  # noqa: F401, PLC0415
        except ImportError as e:
            raise NotImplementedError(
                f"model {model!r} needs the openai client; use model='fake'"
            ) from e
        raise NotImplementedError("real LLM wiring is deployment-specific")

    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType())])
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [fake_llm_summary_py(p) for p in pdf[prompt_col]]
            yield pdf[cols + [out_col]]

    return df.mapInPandas(run, schema=out_schema)
