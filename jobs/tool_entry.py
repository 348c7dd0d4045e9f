#!/usr/bin/env python3
"""EP2 tool entrypoint: stdin JSON in, one JSON result on stdout.

Mirrors the reference's Claude-tool envelope
(/root/reference/scripts/claude_tool.py): a published TOOL_SCHEMA, parameters
read as a single JSON object from stdin (:96-113), a ``return_content`` flag
that inlines converted output in the response, and response aliasing
(``conversion_method`` mirrors ``method``, resolved paths echoed back,
:78-82). The unit of work is the engine's unit — a transcripts table — not a
single file path.

Usage:
    echo '{"input": "/data/transcripts", "output_dir": "/data/out"}' \
        | python jobs/tool_entry.py
"""

from __future__ import annotations

import json
import os
import sys

try:
    import docling_gfcr_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOOL_SCHEMA = {
    "name": "extract_transcripts",
    "description": (
        "Runs the distributed extraction pipeline over a transcripts table "
        "(conv_id, turn_idx, role, text, tool, ts) and writes markdown-"
        "extracted turns with lineage"
    ),
    "input_schema": {
        "type": "object",
        "properties": {
            "input": {
                "type": "string",
                "description": "Parquet path of the transcripts table",
            },
            "output_dir": {
                "type": "string",
                "description": "Job output root (data/ + lineage/ land under it)",
            },
            "mode": {
                "type": "string",
                "enum": ["agent", "cli"],
                "default": "agent",
                "description": "agent = optimizer + title wrap; cli = raw fallback",
            },
            "optimize": {
                "type": "boolean",
                "description": (
                    "Apply the markdown optimizer (frontmatter + spacing "
                    "rules). When OMITTED the mode decides: agent optimizes, "
                    "cli stays raw — no schema default, by design"
                ),
            },
            "validate": {
                "type": "boolean",
                "default": True,
                "description": "Run quality validation (metrics/issues/score columns)",
            },
            "return_content": {
                "type": "boolean",
                "default": False,
                "description": (
                    "If true, inline up to content_limit extracted turns in "
                    "the response; if false, only write to output_dir"
                ),
            },
            "content_limit": {"type": "integer", "default": 20},
            "n_parts": {"type": "integer", "default": 64},
            "local_cores": {"type": "integer", "default": 8},
        },
        "required": ["input", "output_dir"],
    },
}


def run_tool(params: dict) -> dict:
    """Validate params, run the job, build the response envelope. Total:
    never raises — errors come back as {"success": false, "error": ...}
    (the reference's :115-128 shape)."""
    spark = None
    try:
        # every parameter is parsed here, inside the envelope and before
        # Spark starts: a malformed value is an error response, not a raise
        input_path = params.get("input")
        output_dir = params.get("output_dir")
        if not input_path:
            return {"success": False, "error": "parameter 'input' is required"}
        if not output_dir:
            return {"success": False, "error": "parameter 'output_dir' is required"}
        mode = params.get("mode", "agent")
        return_content = bool(params.get("return_content", False))
        content_limit = int(params.get("content_limit", 20))
        n_parts = int(params.get("n_parts", 64))
        local_cores = int(params.get("local_cores", 8))
        # only override the mode-derived default when the caller sent the
        # flag explicitly (cli mode without flags must stay raw)
        optimize = bool(params["optimize"]) if "optimize" in params else None
        validate = bool(params.get("validate", True))

        from docling_gfcr_spark import io, lineage
        from docling_gfcr_spark.session import get_spark

        spark = get_spark(app_name="tool_entry", cores=local_cores)
        input_df = spark.read.parquet(input_path)
        io.validate_input_schema(input_df)
        report = lineage.run_extraction_job(
            spark,
            input_df,
            output_dir,
            n_parts=n_parts,
            n_waves=max(1, n_parts // 16),
            mode=mode,
            optimize=optimize,
            validate=validate,
        )
        result: dict = {
            "success": True,
            "input": os.path.abspath(os.path.expanduser(input_path)),
            "output_dir": os.path.abspath(os.path.expanduser(output_dir)),
            # response aliasing per the reference tool interface
            "conversion_method": "spark_pipeline",
            "mode": mode,
            "n_parts_processed": len(report["parts_processed"]),
            "n_parts_skipped": len(report["resumed_parts_skipped"]),
        }
        result["n_turns"] = lineage.committed_turns(spark, output_dir)
        if return_content:
            rows = (
                lineage.ParquetStorage(spark, output_dir)
                .read_data(lineage.data_schema(input_df.schema))
                .select("conv_id", "turn_idx", "method", "extracted_text")
                .orderBy("conv_id", "turn_idx")
                .limit(content_limit)
                .collect()
            )
            result["content"] = [r.asDict() for r in rows]
        return result
    except Exception as e:
        return {"success": False, "error": f"{type(e).__name__}: {e}"}
    finally:
        if spark is not None:
            spark.stop()


def main() -> None:
    if "--schema" in sys.argv:
        print(json.dumps(TOOL_SCHEMA, ensure_ascii=False))
        return
    try:
        params = json.loads(sys.stdin.read())
    except json.JSONDecodeError as e:
        print(json.dumps({"success": False, "error": f"invalid JSON on stdin: {e}"}))
        return
    print(json.dumps(run_tool(params), ensure_ascii=False))


if __name__ == "__main__":
    main()
