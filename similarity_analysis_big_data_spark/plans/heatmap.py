"""S6 (lab2.py:336-342): heatmap render of the category similarity matrix.

A driver-side presentation step, not an engine operator (SURVEY §2.1 S6):
the pivoted matrix is provably small (|categories|²), so ``toPandas`` is
safe. matplotlib/seaborn are not guaranteed in the runtime — the render is
import-gated and raises a clear error when absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def render_heatmap(pivoted: DataFrame, out_path: str) -> str:
    """Render a pivoted (row x column) similarity matrix to a PNG.

    Expects the output of operators.similarity.pivot_matrix: first column is
    the row label, remaining columns are the matrix values.
    """
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "heatmap rendering needs matplotlib — provision it on the driver "
            "(the engine-side pivot is already computed; only the PNG render is gated)"
        ) from exc

    pdf = pivoted.toPandas()
    row_col = pdf.columns[0]
    pdf = pdf.set_index(row_col).sort_index()
    pdf = pdf[sorted(pdf.columns)]

    fig, ax = plt.subplots(dpi=150)
    im = ax.imshow(pdf.values, cmap="afmhot_r", vmin=0.0, vmax=1.0)
    ax.set_xticks(range(len(pdf.columns)), labels=pdf.columns, rotation=45, ha="right")
    ax.set_yticks(range(len(pdf.index)), labels=pdf.index)
    ax.set_title("Categories: Cosine Similarity Matrix", fontweight="bold")
    fig.colorbar(im, ax=ax)
    fig.savefig(out_path, bbox_inches="tight")
    plt.close(fig)
    return out_path
