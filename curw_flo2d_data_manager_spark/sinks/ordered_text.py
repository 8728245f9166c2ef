"""Ordered single-file text sink — SURVEY §4.2 custom piece 1.

FLO-2D input files are order-sensitive text (K1–K5): the row order IS
part of the format. A global sort + single output file is inherently
anti-Spark, so it is isolated here, in exactly one utility:
``orderBy(keys)`` → write sorted part files → driver-side ordered
concat, committed to the final path through ``commit.replace``. The
sort runs fully distributed (range-partitioned exchange); only the
final byte-concat is sequential, and it is pure streaming IO. This is
how a 45M-line RAINCELL.DAT (BASELINE.md derived target) still renders
with every executor busy.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame

from curw_flo2d_data_manager_spark import commit


def write_ordered_text(
    df: DataFrame,
    path: str,
    sort_cols: list[str | Column],
    line_col: str = "line",
    header_lines: list[str] | None = None,
    footer_lines: list[str] | None = None,
    final_newline: bool = True,
) -> str:
    """Render ``df[line_col]`` sorted by ``sort_cols`` to ``path``.

    ``header_lines``/``footer_lines`` are small driver-side fragments
    (the reference's verbatim head/tail assets, P3 —
    input/chan/gen_chan.py:132-141).
    ``final_newline=False`` drops the trailing newline for byte parity
    with the reference's ``'\\n'.join(...)`` writers (gen_chan.py:43-45
    and every input script's ``write_to_file``), which never terminate
    the last line.
    A failure at any point leaves ``path`` as it was. Returns ``path``.
    """
    tmp = tempfile.mkdtemp(prefix="ordered_text_", dir=os.path.dirname(path) or ".")
    out_dir = os.path.join(tmp, "parts")
    try:
        df.orderBy(*sort_cols).select(line_col).write.mode("overwrite").text(out_dir)
        # spark writes part files whose lexicographic name order equals
        # the range-partition order of the global sort.
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))

        def concat(dst: str) -> None:
            with open(dst, "w") as out:
                out.writelines(h + "\n" for h in header_lines or [])
                for p in parts:
                    with open(p) as src:
                        shutil.copyfileobj(src, out)
                out.writelines(t + "\n" for t in footer_lines or [])
            if not final_newline:
                with open(dst, "rb+") as out:
                    end = out.seek(0, os.SEEK_END)
                    if end:
                        out.seek(end - 1)
                        if out.read(1) == b"\n":
                            out.truncate(end - 1)

        return commit.replace(path, concat)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
