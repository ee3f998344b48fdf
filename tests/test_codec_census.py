"""Smoke test of scripts/codec_census.py: it runs end to end on a tiny input
and reports every codec id the block format knows."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from varint_spark.codecs import blocks

ROOT = Path(__file__).resolve().parent.parent


def test_census_reports_every_codec(tmp_path):
    table = pa.table({"k": pa.array([1, 2, None, 4] * 50, pa.int64()),
                      "s": pa.array(["a", "bb", None, "a"] * 50)})
    pq.write_table(table, tmp_path / "tiny.parquet")
    out = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "codec_census.py"), str(tmp_path),
         "--scale", "0.01", "--together", "rle_int,dict_int"],
        capture_output=True, text=True, check=True, timeout=600).stdout
    lines = out.splitlines()
    assert any(line.startswith("tiny ") for line in lines)
    start = next(i for i, line in enumerate(lines) if line.startswith("codec "))
    end = lines.index("", start)
    reported = [line.split()[0] for line in lines[start + 1:end]]
    assert sorted(reported) == sorted(blocks.CODEC_NAMES.values())
    assert "all of rle_int,dict_int dropped together:" in out
