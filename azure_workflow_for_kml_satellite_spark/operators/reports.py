"""S20: per-document EUDR due-diligence PDF reports.

Distributed assembly of the reference's fpdf2 report (reference:
blueprints/export.py:512-1533 — header, EUDR compliance summary,
vegetation analysis, per-parcel evidence sections) as a binary column:
the per-AOI metric tables are joined, grouped per source url, and
``rows.map_rows`` renders each group's row with the from-scratch PDF writer
(functions/pdf.py). Report text mirrors the reference's section wording.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.functions.pdf import PdfBuilder
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows


def report_content(url: str, parcels: list) -> tuple[list[str], list[list[str]]]:
    """The report's logical text content: (lines, table_rows). The PDF is a
    pure rendering of this content, and ``"\\n"``-joined lines + flattened
    table rows form the ``report_text`` column the oracle checks — so the
    report CONTENT is hash-verified while the PDF byte stream stays
    structure-tested (test_pdf_report)."""
    parcels = sorted(parcels, key=lambda p: p["feature_index"])
    lines: list[str] = []
    # header (export.py:569-593)
    lines.append("EUDR Due-Diligence Report")
    lines.append(f"Report ID: {url}")
    lines.append(f"Parcels analysed: {len(parcels)}")
    # compliance summary (export.py:610-671)
    lines.append("EUDR Compliance Summary")
    lines.append("EUDR cutoff date: 31 December 2020")
    n_free = sum(1 for p in parcels if p["deforestation_free"])
    n_flagged = sum(1 for p in parcels if not p["deforestation_free"])
    lines.append(f"Deforestation-free parcels: {n_free}")
    lines.append(f"Parcels with findings: {n_flagged}")
    # vegetation analysis (export.py:674-713)
    lines.append("Vegetation Analysis")
    directions: dict[str, int] = {}
    for p in parcels:
        directions[p["direction"] or "unknown"] = directions.get(p["direction"] or "unknown", 0) + 1
    for d in sorted(directions):
        lines.append(f"NDVI trend '{d}': {directions[d]} parcel(s)")
    table_rows = [
        [
            str(p["name"] or f"feature {p['feature_index']}"),
            f"{p['area_ha']:.1f}" if p["area_ha"] is not None else "-",
            str(p["health_class"] or "-"),
            str(p["trajectory"] or "-"),
            str(p["confidence"] or "-"),
        ]
        for p in parcels
    ]
    # per-parcel evidence (export.py:748-840)
    evidence: list[str] = ["Per-Parcel Evidence"]
    for p in parcels:
        evidence.append(str(p["name"] or f"feature {p['feature_index']}"))
        verdict = "DEFORESTATION-FREE" if p["deforestation_free"] else "FINDINGS PRESENT"
        evidence.append(f"Determination: {verdict} (confidence: {p['confidence']})")
        for flag in (p["flags"] or "").split("|"):
            if flag:
                evidence.append(f"- {flag}")
    return lines + evidence, table_rows


TABLE_HEADER = ["parcel", "area (ha)", "health", "trajectory", "confidence"]


def report_text(lines: list[str], table_rows: list[list[str]]) -> str:
    """Canonical flat text of one report: the content lines with the
    vegetation table (header + rows, cells ' | '-joined) spliced after the
    NDVI-trend histogram (i.e. before 'Per-Parcel Evidence')."""
    cut = lines.index("Per-Parcel Evidence")
    table = [" | ".join(TABLE_HEADER)] + [" | ".join(r) for r in table_rows]
    return "\n".join(lines[:cut] + table + lines[cut:])


def _render_report(url: str, parcels: list) -> tuple[bytes, str]:
    lines, table_rows = report_content(url, parcels)
    cut = lines.index("Per-Parcel Evidence")
    parcels = sorted(parcels, key=lambda p: p["feature_index"])
    pdf = PdfBuilder()
    pdf.heading(lines[0], size=18)       # title (export.py:569-593)
    pdf.line(lines[1], size=9)
    pdf.line(lines[2], size=9)
    pdf.heading(lines[3], size=12)       # compliance summary (export.py:610-671)
    for ln in lines[4:7]:
        pdf.line(ln, size=10)
    pdf.heading(lines[7], size=12)       # vegetation analysis (export.py:674-713)
    for ln in lines[8:cut]:
        pdf.line(ln, size=10)
    pdf.table(TABLE_HEADER, table_rows, [150.0, 70.0, 110.0, 90.0, 70.0])
    pdf.heading(lines[cut], size=14)     # per-parcel evidence (export.py:748-840)
    i = cut + 1
    for p in parcels:
        pdf.line(lines[i], size=11, style="B")        # parcel name
        pdf.line(lines[i + 1], size=9)                # determination verdict
        i += 2
        n_flags = sum(1 for flag in (p["flags"] or "").split("|") if flag)
        for _ in range(n_flags):
            pdf.line(lines[i], size=9, style="I")
            i += 1
    return pdf.build(), report_text(lines, table_rows)


def eudr_report_pdfs(
    aois: DataFrame,
    trend: DataFrame,
    change_summary: DataFrame,
    determination: DataFrame,
) -> DataFrame:
    """One (url, report_pdf, report_text, n_parcels) row per source
    document. ``report_text`` is the report's full logical content
    (hash-oracled); ``report_pdf`` is its deterministic PDF 1.4 rendering
    (structure-tested)."""
    j = (
        aois.select("url", "feature_index", "name", "area_ha")
        .join(
            trend.select("url", "feature_index", "direction", "health_class"),
            ["url", "feature_index"],
            "left",
        )
        .join(
            change_summary.select("url", "feature_index", "trajectory"),
            ["url", "feature_index"],
            "left",
        )
        .join(
            determination.select(
                "url", "feature_index", "deforestation_free", "confidence", "flags"
            ),
            ["url", "feature_index"],
            "left",
        )
    )
    parcels = j.groupBy("url").agg(
        F.collect_list(
            F.struct(
                "feature_index",
                "name",
                "area_ha",
                "direction",
                "health_class",
                "trajectory",
                "deforestation_free",
                "confidence",
                "flags",
            )
        ).alias("parcels")
    )

    def report_row(rec: dict) -> list[dict]:
        pdf, text = _render_report(rec["url"], rec["parcels"])
        return [{"report_pdf": pdf, "report_text": text, "n_parcels": len(rec["parcels"])}]

    return map_rows(
        parcels,
        ["url"],
        ["url", "parcels"],
        [
            T.StructField("report_pdf", T.BinaryType()),
            T.StructField("report_text", T.StringType()),
            T.StructField("n_parcels", T.IntegerType(), False),
        ],
        report_row,
    )
