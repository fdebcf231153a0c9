"""Every top-level public ``def`` and ``class`` in ``readur_spark``, and
every public method of those classes, has a caller outside ``tests/``: a
job, a tool, the registry, the benchmark or another module of the package.
A name counts as called when some ``.py`` file outside ``tests/`` mentions
it as an AST ``Name``, an attribute or an import; docstrings and comments
do not count. A method is listed as ``Class.method`` and counts as called
when its bare name does.

Public code that only tests call is deleted instead of kept, unless it is
listed below with its reason: a readur-parity row of ``COVERAGE.md``, a
fixture encoder the tests build inputs with, or a reference implementation
the tests compare the fast path against.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    # readur-parity rows of COVERAGE.md
    "watch_and_extract": "COVERAGE S3 folder watcher",
    "dead_letters": "COVERAGE S8 dead-letter sink",
    "ocr_dead_letters": "COVERAGE S8 dead-letter sink, image path",
    "image_metadata": "COVERAGE I17 image metadata",
    "decode_images": "COVERAGE PNG/JPEG/GIF/TIFF codec rows",
    "TesseractEngine": "COVERAGE I1-I4 OCR engine adapter",
    "pdf_metadata": "COVERAGE P12 PDF metadata",
    "are_compatible": "COVERAGE M4 MIME compatibility",
    "read_binary_dir": "COVERAGE S2 batch directory scan",
    "size_priority": "COVERAGE Q2 size to priority",
    "CheckpointTable.cleanup_completed": "COVERAGE Q8 checkpoint cleanup",
    "TesseractEngine.available": "COVERAGE I1-I4 OCR engine adapter",
    "ingest_with_history_dedup": "COVERAGE continuous ingest + history dedup",
    # references the tests compare against
    "extract_main_content_reference": "reference for the fast HTML extractor",
    # fixture encoders
    "jpeg_encode": "fixture: baseline JPEG encoder",
    "jpeg_encode_progressive": "fixture: progressive JPEG encoder",
    "gif_encode": "fixture: GIF encoder",
    "tiff_encode": "fixture: TIFF encoder",
    "build_doc": "fixture: legacy .doc encoder",
    "train_bpe_from_texts": "fixture: one-call BPE tokenizer for test corpora",
    "docs_dataframe": "fixture: synthetic interleaved document generator",
}


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _public_defs() -> dict[str, str]:
    """Public top-level names and ``Class.method`` names → defining file."""
    defs = {}
    for path in sorted((ROOT / "readur_spark").rglob("*.py")):
        where = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (*_DEFS, ast.ClassDef)) or node.name.startswith("_"):
                continue
            defs[node.name] = where
            if isinstance(node, ast.ClassDef):
                for member in node.body:
                    if isinstance(member, _DEFS) and not member.name.startswith("_"):
                        defs[f"{node.name}.{member.name}"] = where
    return defs


def _referenced_names() -> set[str]:
    names = set()
    for path in ROOT.rglob("*.py"):
        top = path.relative_to(ROOT).parts[0]
        if top == "tests" or top.startswith("."):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_public_def_has_a_non_test_caller():
    defs = _public_defs()
    refs = _referenced_names()
    uncalled = {
        name: where
        for name, where in defs.items()
        if name.rsplit(".", 1)[-1] not in refs and name not in ALLOWED
    }
    assert uncalled == {}, (
        "public defs with no caller outside tests/: give each a caller, "
        "delete it, or allowlist it with its COVERAGE row, fixture or "
        f"reference role: {uncalled}"
    )


def test_allowlist_is_current():
    """Each allowlisted name still exists and still has no other caller."""
    defs = _public_defs()
    refs = _referenced_names()
    assert sorted(n for n in ALLOWED if n not in defs) == []
    assert sorted(n for n in ALLOWED if n.rsplit(".", 1)[-1] in refs) == []
