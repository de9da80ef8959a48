"""Plot sinks (SURVEY.md §2.1 S5) — the reference's terminal output.

The reference ends each analysis in matplotlib: a line chart of the
lifetime rate curve (analyse.py:109-135), a dual-axis bar+line
time-of-day chart (analyse.py:303-351), and a horizontal bar city
ranking (analyse.py:501-513). The engine's contract ends at the small
aggregate DataFrame; these sinks collect it (**only** ≤ a few hundred
rows ever reach the driver) and render the same three figures.

The figures are SVG, drawn by the dependency-free renderer in
``sources.svg_render``, so the sinks produce actual figure files with
no plotting library installed. The *collect discipline* — refuse a frame
that is not small before ``toPandas`` — is the engine-level behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import svg_render

MAX_PLOT_ROWS = 10_000  # a plot sink is a driver-side sink; refuse big frames


def _small_pandas(df: DataFrame, expected_cols: list[str]):
    missing = [c for c in expected_cols if c not in df.columns]
    if missing:
        raise ValueError(f"plot sink missing columns: {missing}")
    pdf = df.limit(MAX_PLOT_ROWS + 1).toPandas()
    if len(pdf) > MAX_PLOT_ROWS:
        raise ValueError(
            f"plot sink refused: > {MAX_PLOT_ROWS} rows reached the driver; "
            "aggregate further before plotting"
        )
    return pdf


def plot_rate_curve(
    df: DataFrame, out_path: str, x: str = "bin", y: str = "smoothed_rate"
) -> str:
    """Line chart of a smoothed rate curve (analyse.py:109-135 shape)."""
    pdf = _small_pandas(df, [x, y])
    return svg_render.render_line(
        [float(v) for v in pdf[x]], [float(v) for v in pdf[y]],
        out_path, "Lifetime rate curve", x, y,
    )


def plot_dual_axis(df: DataFrame, out_path: str, x: str, bars: str, line: str) -> str:
    """Bar+line time-of-day chart (analyse.py:303-351 shape): the
    reference's twin-axis figure drawn as two stacked aligned panels,
    one scale per panel."""
    pdf = _small_pandas(df, [x, bars, line])
    return svg_render.render_bar_line(
        list(pdf[x]), [float(v) for v in pdf[bars]], [float(v) for v in pdf[line]],
        out_path, "Per-slot activity", bars, line,
    )


def plot_ranking_barh(df: DataFrame, out_path: str, label: str, value: str) -> str:
    """Horizontal-bar ranking chart (analyse.py:501-513 shape)."""
    pdf = _small_pandas(df, [label, value])
    return svg_render.render_barh(
        list(pdf[label]), [float(v) for v in pdf[value]],
        out_path, "Ranking", value,
    )
