"""A numpy batch stage runs through ``functions.arrow.numpy_stage`` (one
``mapInArrow`` stage, no pandas frame).  ``mapInPandas`` stays only where
a stage needs what a per-batch numpy function cannot give; each such site
is listed here with its reason, and any other call fails this test."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "python_fastly_log_query_spark")

_DECODER = "multimodal codec stage: row-wise encode/decode of binary payloads, not numpy batch math"

# (file relative to the package, enclosing top-level function) -> reason
ALLOWED = {
    ("operators/multimodal.py", "wav_from_docs"): _DECODER,
    ("operators/multimodal.py", "decode_wav"): _DECODER,
    ("operators/multimodal.py", "decode_media"): _DECODER,
    ("operators/multimodal.py", "extract_features"): _DECODER,
    ("operators/multimodal.py", "bmp_from_docs"): _DECODER,
    ("operators/multimodal.py", "decode_bmp"): _DECODER,
    ("operators/multimodal.py", "avi_from_docs"): _DECODER,
    ("operators/multimodal.py", "decode_avi"): _DECODER,
    ("operators/multimodal.py", "avi_frame_sample"): _DECODER,
    ("sources/warc.py", "read_warc"): "WARC splitter: one file's bytes explode into a variable number of records",
    ("sources/logfiles.py", "read_log_lines"): "line numbering: a per-file counter carried across batches",
    ("operators/sketch.py", "kmv_bottom_k"): "KMV fold: one bottom-k state carried across all batches",
    ("operators/sketch.py", "kmv_bottom_k_sides"): "KMV fold: one bottom-k state carried across all batches",
}


def _map_in_pandas_calls(path: str) -> list[tuple[str | None, int]]:
    """(enclosing top-level function, line) of every ``.mapInPandas(...)``
    call in one source file."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out = []
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                out.append((getattr(top, "name", None), node.lineno))
    return out


def test_map_in_pandas_only_at_allow_listed_sites():
    seen, stray = set(), []
    for d, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
            for fn, line in _map_in_pandas_calls(path):
                if (rel, fn) in ALLOWED:
                    seen.add((rel, fn))
                else:
                    stray.append(f"{rel}:{line} in {fn}")
    assert not stray, stray
    # a site that no longer calls mapInPandas leaves the list too
    assert seen == set(ALLOWED), sorted(set(ALLOWED) - seen)
