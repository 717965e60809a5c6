"""Report sinks (SURVEY.md §2.1 S5): the dataset-level tables and
charts the reference rendered from its pickled results — rebuilt as
driver-side sinks over the tiny aggregated report DataFrame.

The reference used matplotlib bar charts (mean ± stddev per extractor)
and LaTeX tables. The chart sink emits a dependency-free SVG with the
same content (grouped bars with error whiskers); tables are emitted as
Markdown + LaTeX.
"""

from __future__ import annotations

import html
from pathlib import Path

from pyspark.sql import DataFrame

REPORT_COLS = ["extractor", "dataset", "avg_precision", "avg_recall", "avg_f1",
               "std_f1", "n_ok", "n_empty", "n_fail"]


def _rows(report: DataFrame) -> list[dict]:
    cols = [c for c in REPORT_COLS if c in report.columns]
    return [r.asDict() for r in report.select(*cols).orderBy("dataset", "extractor").collect()]


def write_markdown_table(report: DataFrame, path: str | Path) -> None:
    rows = _rows(report)
    if not rows:
        Path(path).write_text("(empty report)\n")
        return
    cols = list(rows[0].keys())
    lines = ["| " + " | ".join(cols) + " |", "| " + " | ".join("---" for _ in cols) + " |"]
    for r in rows:
        lines.append(
            "| " + " | ".join(
                f"{v:.4f}" if isinstance(v, float) else str(v) for v in r.values()
            ) + " |"
        )
    Path(path).write_text("\n".join(lines) + "\n")


def write_latex_table(report: DataFrame, path: str | Path) -> None:
    rows = _rows(report)
    if not rows:
        Path(path).write_text("% empty report\n")
        return
    cols = list(rows[0].keys())
    out = [
        r"\begin{tabular}{" + "l" * 2 + "r" * (len(cols) - 2) + "}",
        r"\toprule",
        " & ".join(c.replace("_", r"\_") for c in cols) + r" \\",
        r"\midrule",
    ]
    for r in rows:
        out.append(
            " & ".join(
                f"{v:.4f}" if isinstance(v, float) else str(v) for v in r.values()
            )
            + r" \\"
        )
    out += [r"\bottomrule", r"\end{tabular}"]
    Path(path).write_text("\n".join(out) + "\n")


def write_f1_bar_chart(report: DataFrame, path: str | Path) -> None:
    """Grouped bar chart of macro-F1 ± stddev per (extractor, dataset)."""
    _write_svg_bars(_rows(report), path)


def _write_svg_bars(rows: list[dict], path: str | Path) -> None:
    w_bar, gap, h, pad = 70, 30, 260, 50
    width = pad * 2 + len(rows) * (w_bar + gap)
    height = h + pad * 2 + 30
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}">',
        f'<text x="{pad}" y="20" font-size="14" font-family="sans-serif">'
        "macro-F1 per (extractor, dataset), whiskers = ±stddev</text>",
    ]
    for tick in (0.0, 0.25, 0.5, 0.75, 1.0):
        y = pad + h - tick * h
        parts.append(
            f'<line x1="{pad - 6}" y1="{y:.1f}" x2="{width - pad}" y2="{y:.1f}" '
            'stroke="#ddd" stroke-width="1"/>'
            f'<text x="2" y="{y + 4:.1f}" font-size="10" font-family="sans-serif">{tick}</text>'
        )
    for i, r in enumerate(rows):
        f1 = float(r["avg_f1"] or 0.0)
        sd = float(r["std_f1"] or 0.0)
        x = pad + i * (w_bar + gap)
        bar_h = f1 * h
        y = pad + h - bar_h
        cx = x + w_bar / 2
        y_lo = pad + h - max(0.0, f1 - sd) * h
        y_hi = pad + h - min(1.0, f1 + sd) * h
        label = html.escape(f"{r['extractor']}/{r['dataset']}")
        parts += [
            f'<rect x="{x}" y="{y:.1f}" width="{w_bar}" height="{bar_h:.1f}" '
            'fill="#4878a8"/>',
            f'<line x1="{cx}" y1="{y_hi:.1f}" x2="{cx}" y2="{y_lo:.1f}" '
            'stroke="#333" stroke-width="1.5"/>',
            f'<line x1="{cx - 6}" y1="{y_hi:.1f}" x2="{cx + 6}" y2="{y_hi:.1f}" stroke="#333"/>',
            f'<line x1="{cx - 6}" y1="{y_lo:.1f}" x2="{cx + 6}" y2="{y_lo:.1f}" stroke="#333"/>',
            f'<text x="{cx}" y="{pad + h + 14}" font-size="9" text-anchor="middle" '
            f'font-family="sans-serif">{label}</text>',
            f'<text x="{cx}" y="{y - 4:.1f}" font-size="10" text-anchor="middle" '
            f'font-family="sans-serif">{f1:.3f}</text>',
        ]
    parts.append("</svg>")
    Path(path).write_text("\n".join(parts))


def write_all(report: DataFrame, out_dir: str | Path) -> dict[str, str]:
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    paths = {
        "markdown": str(out / "report.md"),
        "latex": str(out / "report.tex"),
        "chart": str(out / "report_f1.svg"),
    }
    write_markdown_table(report, paths["markdown"])
    write_latex_table(report, paths["latex"])
    write_f1_bar_chart(report, paths["chart"])
    return paths
