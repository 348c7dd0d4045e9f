"""Optional LLM enhancement stage (reference E1/B2 — default OFF).

Mirrors /root/reference/scripts/openai_enhancer.py:114-248: three operations
(``enhance`` / ``analyze`` / ``extract``) applied per document via an external
LLM, with graceful per-row fallback to the original content on any error
(reference lines 161-168) — the stage can never lose rows.

Spark shape: ``mapInPandas`` with a per-partition client (one connection per
task, created inside the iterator — the same lazy-init pattern the reference
uses for docling imports). The stage is excluded from the deterministic
correctness core exactly as the reference excludes it (enhance_with_openai
defaults False, convert.py:159): no oracle, off unless a ``client_factory``
is injected. Tests inject a deterministic fake; production injects a real
API client. No network code lives here.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

OPERATIONS = ("enhance", "analyze", "extract")

ENHANCED_SCHEMA_SUFFIX = (
    "enhanced_text string, enhance_applied boolean, enhance_error string"
)


def enhance_documents(
    df: DataFrame,
    text_col: str = "extracted_text",
    operation: str = "enhance",
    client_factory: Callable[[], Callable[[str, str], str]] | None = None,
) -> DataFrame:
    """Append (enhanced_text, enhance_applied, enhance_error) columns.

    ``client_factory()`` -> ``call(operation, text) -> str`` is created once
    per partition. Without a factory the stage is a passthrough marked
    not-applied (the reference's OPENAI_AVAILABLE=False path,
    convert.py:15-20).
    """
    if operation not in OPERATIONS:
        raise ValueError(f"operation must be one of {OPERATIONS}")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + ENHANCED_SCHEMA_SUFFIX

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        call = client_factory() if client_factory is not None else None
        for pdf in batches:
            if call is None:
                yield pdf.assign(
                    enhanced_text=pdf[text_col],
                    enhance_applied=False,
                    enhance_error="enhancer unavailable",
                )
                continue
            outs, applied, errs = [], [], []
            for text in pdf[text_col].tolist():
                try:
                    outs.append(call(operation, text))
                    applied.append(True)
                    errs.append(None)
                except Exception as e:  # graceful fallback, row preserved
                    outs.append(text)
                    applied.append(False)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pdf.assign(enhanced_text=outs, enhance_applied=applied, enhance_error=errs)

    return df.mapInPandas(op, schema=schema)


def fake_client_factory() -> Callable[[str, str], str]:
    """Deterministic stand-in used by tests (and by offline dry-runs):
    enhance = uppercase first line; analyze/extract = JSON envelopes."""

    def call(operation: str, text: str) -> str:
        if text is None:
            raise ValueError("null text")
        if operation == "enhance":
            head, sep, tail = text.partition("\n")
            return head.upper() + sep + tail
        if operation == "analyze":
            return json.dumps({"n_chars": len(text), "n_words": len(text.split())})
        return json.dumps({"keywords": sorted(set(text.split()))[:5]})

    return call
