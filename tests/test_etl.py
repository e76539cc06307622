"""ETL-semantics golden tests (SURVEY §5.2) over FIXTURES.md variants."""

import os

import pyspark.sql.functions as F
import pytest

from pipeline_etl_website_visits_spark.etl import schema as S
from pipeline_etl_website_visits_spark.etl.load import Warehouse
from pipeline_etl_website_visits_spark.etl.pipeline import (
    list_report_files,
    process_directory,
    process_file,
    read_header,
    read_report,
    transform_group,
)
from pipeline_etl_website_visits_spark.etl.transform import (
    transform_file,
    validate_layout,
    with_validity_flags,
)

from tests import fixtures as FX


@pytest.fixture()
def report_dir(tmp_path):
    d = tmp_path / "reports"
    d.mkdir()
    return str(d)


def test_layout_validation():
    ok, missing, extra = validate_layout(FX.HEADER)
    assert ok and not missing and not extra
    ok, missing, extra = validate_layout([c for c in FX.HEADER if c != "Opens"])
    assert not ok and missing == ["Opens"]
    ok, missing, extra = validate_layout(FX.HEADER + ["Extra"])
    assert ok and extra == ["Extra"]


def test_allvalid_counts_and_agg(spark, report_dir):
    path = FX.make_allvalid(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_allvalid.txt")
    assert stats.count() == 100
    assert errores.count() == 0
    v = {r["email"]: r for r in visitors.collect()}
    assert len(v) == 10
    assert all(r["visitasTotales"] == 10 for r in v.values())
    # D20 ruling: dates derive from the batch's fechaEnvio, not today.
    assert all(r["fechaPrimeraVisita"].month == 3 for r in v.values())


def test_mixed_error_expansion(spark, report_dir):
    """FIXTURES F-B: 30 invalid source rows expand to exactly 50 error rows."""
    path = FX.make_mixed(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_mixed.txt")
    assert stats.count() == 70
    err = errores.collect()
    assert len(err) == 50
    by_type = errores.groupBy("tipoError").count().collect()
    counts = {r["tipoError"]: r["count"] for r in by_type}
    assert counts == {"Email": 20, "Fecha envio": 20, "Fecha open": 10}
    # row-count conservation: |ok| + |distinct err rows| = |input|
    flagged = with_validity_flags(read_report(spark, path))
    assert flagged.filter(~F.col("is_valid")).count() == 30


def test_empty_file(spark, report_dir):
    path = FX.make_empty(report_dir)
    stats, visitors, errores = transform_file(read_report(spark, path), "report_empty.txt")
    assert stats.count() == 0 and errores.count() == 0 and visitors.count() == 0


def test_placeholder_normalization(spark, report_dir):
    path = FX.make_placeholders(report_dir)
    stats, _, _ = transform_file(read_report(spark, path), "report_placeholders.txt")
    rows = stats.collect()
    assert all(r["jyv"] is None for r in rows)          # "-" -> NULL
    assert all(r["badMail"] is None for r in rows)      # "0" -> NULL (str col)
    assert all(r["navegadores"] is None for r in rows)
    assert any(r["opens"] == 0 for r in rows)           # int 0 survives (D7)
    # strict-format dates parsed to real timestamps
    assert all(r["fechaEnvio"] is not None for r in rows)


def test_date_validation_strictness(spark, report_dir):
    """F2 is stricter than the cast: lax formats must be *invalid*, not parsed."""
    rows = [FX.valid_row(0)]
    rows[0][4] = "1/1/2024 10:00"  # would parse, but fails the strict regex
    path = FX.write_csv(os.path.join(report_dir, "report_lax.txt"), FX.HEADER, rows)
    flagged = with_validity_flags(read_report(spark, path))
    assert flagged.filter(F.col("is_valid")).count() == 0


def test_unparseable_valid_cells_load_as_null(spark, report_dir, tmp_path):
    """Valid rows whose int or date cells do not parse load with NULL in
    those cells; under ANSI mode a plain cast would fail the whole file."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    bad_int, bad_date = FX.valid_row(0), FX.valid_row(1)
    bad_int[6] = "x"                    # Opens
    bad_date[4] = "31/02/2024 10:00"   # Fecha envio: passes the regex, no such day
    path = FX.write_csv(
        os.path.join(report_dir, "report_unparseable.txt"), FX.HEADER, [bad_int, bad_date]
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    result = process_file(spark, wh, path, process_date="2026-03-28")
    assert result.status == S.STATUS_OK

    rows = {r["email"]: r for r in wh.read("estadisticas").collect()}
    assert rows["user0@example.com"]["opens"] is None
    assert rows["user0@example.com"]["fechaEnvio"] is not None
    assert rows["user1@example.com"]["fechaEnvio"] is None
    assert rows["user1@example.com"]["opens"] == 1
    assert wh.read_visitantes().count() == 2


def test_process_directory_end_to_end(spark, report_dir, tmp_path):
    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    FX.make_badlayout(report_dir)
    FX.make_extracol(report_dir)
    FX.make_empty(report_dir)
    wh_root = str(tmp_path / "wh")

    results = process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    by_name = {r.filename: r for r in results}
    assert by_name["report_allvalid.txt"].status == S.STATUS_OK
    assert by_name["report_mixed.txt"].status == S.STATUS_OK_WITH_ERRORS
    assert by_name["report_badlayout.txt"].status == S.STATUS_LAYOUT_FAIL
    assert by_name["report_badlayout.txt"].missing_columns == ["Opens"]
    assert by_name["report_extracol.txt"].status == S.STATUS_OK
    assert by_name["report_extracol.txt"].extra_columns == ["Extra"]
    assert by_name["report_empty.txt"].status == S.STATUS_OK

    wh = Warehouse(spark, wh_root)
    assert wh.read("estadisticas").count() == 100 + 70 + 5 + 0
    assert wh.read("errores").count() == 50
    bit = {r["nombreArchivo"]: r for r in wh.read("bitacora").collect()}
    assert bit["report_mixed.txt"]["registrosExitosos"] == 70
    assert bit["report_mixed.txt"]["registrosFallidos"] == 50
    vis = wh.read_visitantes()
    # user0@example.com: 10 rows in allvalid + 1 in mixed + 1 in extracol,
    # merged across the three per-file upserts.
    assert vis.filter(F.col("email") == "user0@example.com").first()["visitasTotales"] == 12

    # idempotency: re-run skips everything (bitacora commit markers, D13 fix)
    results2 = process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    assert results2 == []
    assert wh.read("estadisticas").count() == 175


def test_reprocess_overwrites_not_duplicates(spark, report_dir, tmp_path):
    FX.make_allvalid(report_dir)
    wh_root = str(tmp_path / "wh")
    process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    wh = Warehouse(spark, wh_root)
    assert wh.read("estadisticas").count() == 100
    # forced reprocess: dynamic partition overwrite keeps counts stable
    process_directory(spark, report_dir, wh_root, process_date="2026-03-28", reprocess=True)
    assert wh.read("estadisticas").count() == 100
    # but visitantes was merged twice (totals add) — documented K4 semantics:
    # idempotency is provided by the bitacora skip, reprocess=True is a
    # deliberate re-merge.
    assert (
        wh.read_visitantes().filter(F.col("email") == "user0@example.com").first()["visitasTotales"] == 20
    )


def test_transform_group_matches_per_file(spark, report_dir):
    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    files = list_report_files(spark, report_dir)
    stats, errores = transform_group(spark, files)
    assert stats.count() == 170
    assert errores.count() == 50
    per_file = stats.groupBy("nombreArchivo").count().collect()
    assert {r["nombreArchivo"]: r["count"] for r in per_file} == {
        "report_allvalid.txt": 100,
        "report_mixed.txt": 70,
    }


def test_header_peek(spark, report_dir):
    path = FX.make_allvalid(report_dir)
    assert read_header(spark, path) == FX.HEADER


def test_system_failure_isolation(spark, report_dir, tmp_path, monkeypatch):
    """A file that explodes mid-transform records FALLO_SISTEMA and does not
    stop the run (reference O4 per-file isolation, flows/etl_flow.py:45-47)."""
    import pipeline_etl_website_visits_spark.etl.pipeline as P

    FX.make_allvalid(report_dir)
    FX.make_mixed(report_dir)
    wh_root = str(tmp_path / "wh")

    real_transform = P.T.transform_file

    def exploding(raw, filename):
        if filename == "report_allvalid.txt":
            raise RuntimeError("injected mid-transform failure")
        return real_transform(raw, filename)

    monkeypatch.setattr(P.T, "transform_file", exploding)
    results = P.process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    by_name = {r.filename: r for r in results}
    assert by_name["report_allvalid.txt"].status == S.STATUS_SYSTEM_FAIL
    assert by_name["report_mixed.txt"].status == S.STATUS_OK_WITH_ERRORS

    from pipeline_etl_website_visits_spark.etl.load import Warehouse

    wh = Warehouse(spark, wh_root)
    bit = {r["nombreArchivo"]: r["estatus"] for r in wh.read("bitacora").collect()}
    assert bit["report_allvalid.txt"] == S.STATUS_SYSTEM_FAIL
    # FALLO_SISTEMA is NOT a completion marker: the file is retried next run
    monkeypatch.setattr(P.T, "transform_file", real_transform)
    results2 = P.process_directory(spark, report_dir, wh_root, process_date="2026-03-28")
    assert [r.filename for r in results2] == ["report_allvalid.txt"]
    assert results2[0].status == S.STATUS_OK


def test_per_file_log_trail(spark, report_dir, tmp_path, monkeypatch):
    """O6: every processed file leaves a structured stage trail in the logs
    table — RECIBIDO→LAYOUT→TRANSFORMADO→MERGE→CARGADO for good files, a
    LAYOUT ERROR row for layout rejects, and a FALLO ERROR row with the
    exception text for mid-transform crashes."""
    FX.make_allvalid(report_dir)
    FX.make_badlayout(report_dir)
    FX.make_mixed(report_dir)
    wh_root = str(tmp_path / "wh")

    # make report_mixed.txt explode mid-transform (same trick as the
    # isolation test): break transform_file for that one file
    import pipeline_etl_website_visits_spark.etl.pipeline as P

    real_transform = P.T.transform_file

    def exploding(raw, filename):
        if filename == "report_mixed.txt":
            raise RuntimeError("boom in transform")
        return real_transform(raw, filename)

    monkeypatch.setattr(P.T, "transform_file", exploding)
    process_directory(spark, report_dir, wh_root)

    wh = Warehouse(spark, wh_root)
    ok_trail = [
        (r["etapa"], r["nivel"])
        for r in wh.file_log("report_allvalid.txt").collect()
    ]
    assert ("RECIBIDO", "INFO") in ok_trail
    assert ("TRANSFORMADO", "INFO") in ok_trail
    assert ("CARGADO", "INFO") in ok_trail

    bad_layout = wh.file_log("report_badlayout.txt").collect()
    assert any(r["etapa"] == "LAYOUT" and r["nivel"] == "ERROR" for r in bad_layout)
    assert not any(r["etapa"] == "CARGADO" for r in bad_layout)

    crashed = wh.file_log("report_mixed.txt").collect()
    fallo = [r for r in crashed if r["etapa"] == "FALLO"]
    assert len(fallo) == 1 and "boom in transform" in fallo[0]["mensaje"]

    # trail rows carry the DDMMYY partition the reference used for log dirs
    assert all(len(r["fecha"]) == 6 for r in crashed)
