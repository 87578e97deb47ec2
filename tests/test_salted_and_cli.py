"""The CLI runs end-to-end through its real surface (subprocess)."""

import subprocess
import sys
from pathlib import Path

from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

REPO = Path(__file__).resolve().parent.parent

TERMS = [(f"S:{i}", f"n{i}", "", [], i % 7 == 6, None) for i in range(30)]
EDGES = [(f"S:{i}", "rdfs:subClassOf", f"S:{i // 2}") for i in range(2, 30)]


def test_cli_end_to_end(spark, tmp_path):
    td = spark.createDataFrame(TERMS, TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    td.write.parquet(str(tmp_path / "td"))
    ed.write.parquet(str(tmp_path / "ed"))
    out = subprocess.run(
        [sys.executable, "-m", "ontology_loader_spark.cli",
         "--source-ontology", "s",
         "--term-dict", str(tmp_path / "td"),
         "--edges", str(tmp_path / "ed"),
         "--state-root", str(tmp_path / "state"),
         "--output-directory", str(tmp_path / "reports"),
         "--master", "local[2]"],
        capture_output=True, text=True, cwd=str(REPO), timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "classes=30" in out.stdout
    assert (tmp_path / "reports" / "ontology_inserts.tsv").exists()
    assert (tmp_path / "state" / "ontology_class_set" / "CURRENT").exists()


def test_cli_validate_graph_aborts_on_cycle(spark, tmp_path):
    """--validate-graph: a cyclic hierarchy exits 3 before any load
    work; the acyclic path proceeds and reports the QC counts."""
    td = spark.createDataFrame(TERMS, TERM_DICT_SCHEMA)
    cyc = EDGES + [("S:3", "rdfs:subClassOf", "S:12")]  # 12->6->3->12
    ed = spark.createDataFrame(cyc, EDGE_SCHEMA)
    td.write.parquet(str(tmp_path / "td"))
    ed.write.parquet(str(tmp_path / "ed_cyc"))
    out = subprocess.run(
        [sys.executable, "-m", "ontology_loader_spark.cli",
         "--source-ontology", "s",
         "--term-dict", str(tmp_path / "td"),
         "--edges", str(tmp_path / "ed_cyc"),
         "--state-root", str(tmp_path / "state"),
         "--validate-graph",
         "--master", "local[2]"],
        capture_output=True, text=True, cwd=str(REPO), timeout=600,
    )
    assert out.returncode == 3, out.stderr[-2000:]
    assert "cycle_members=3" in out.stderr
    assert not (tmp_path / "state" / "ontology_class_set").exists()
