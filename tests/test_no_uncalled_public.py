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

The same rule holds one level down, for options: every optional parameter
of a public function, method or constructor is passed by some call outside
``tests/``, by keyword or by position; a value only tests set is a
constant the tests patch, not an option. A call counts for every def of
its name (``f(...)`` and ``obj.f(...)`` alike; a class name for its
``__init__``), and a call that spreads ``*args`` counts as passing every
positional option. A def that spreads its own ``**kwargs`` into a call
forwards the keywords its callers pass; any other ``**`` spread passes
nothing. An option no call passes is its default's constant, not a
setting, unless ``ALLOWED_OPTIONS`` lists it with its reason: a deployment
setting, or a fixture encoder's switch.
"""

import ast
from collections import defaultdict
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


ALLOWED_OPTIONS = {
    ("TesseractEngine.available", "binary"): "deployment: tesseract binary path",
    ("dedup_cluster_keep_first", "checkpoint_dir"): (
        "deployment: reliable-checkpoint directory for the cluster loop"
    ),
    ("ocr_images", "engine"): "deployment: OCR engine adapter seam",
    ("ocr_images", "settings"): "deployment: OCR engine adapter seam",
    ("ocr_images", "limits"): "deployment: OCR engine adapter seam",
    ("extract_files", "ocr_settings"): "deployment: OCR engine adapter seam",
    ("ingest_with_history_dedup", "available_now"): "deployment: stream trigger",
    ("ingest_with_history_dedup", "max_files_per_trigger"): (
        "deployment: stream trigger"
    ),
    ("watch_and_extract", "max_files_per_trigger"): "deployment: stream trigger",
    ("watch_and_extract", "available_now"): "deployment: stream trigger",
    ("extract_files", "engine"): "deployment: OCR engine adapter seam",
    ("load_table", "table_format"): "deployment: table format of the source",
}
_FIXTURE = "fixture: selects the input variant a decoder test needs"
ALLOWED_OPTIONS |= {
    key: _FIXTURE
    for key in (
        ("build_doc", "complex_flag"),
        ("build_doc", "extchar"),
        ("jpeg_encode", "quality"),
        ("jpeg_encode", "subsample"),
        ("jpeg_encode_progressive", "quality"),
        ("build_pdf", "compress"),
        ("build_pdf", "with_image"),
        ("tiff_encode", "compression"),
        ("build_warc", "gzip_per_record"),
        ("docs_dataframe", "num_partitions"),
        ("docs_dataframe", "seed"),
    )
}


def _optional_params(fn, bound: bool) -> list[tuple[str, int | None]]:
    """``(name, position)`` of each parameter with a default; position is
    the index a positional call argument lands on (``None``: keyword-only),
    counted after ``self``/``cls`` when ``bound``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i - int(bound)) for i, arg in enumerate(pos) if i >= first]
    out += [
        (arg.arg, None)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _members(node):
    """``(qualname, name its calls use, def, bound)`` for a public top-level
    def, or for each public method and the ``__init__`` of a public class."""
    if isinstance(node, _DEFS):
        yield node.name, node.name, node, False
        return
    for m in node.body:
        if not isinstance(m, _DEFS):
            continue
        static = any(
            isinstance(d, ast.Name) and d.id == "staticmethod" for d in m.decorator_list
        )
        if m.name == "__init__":
            yield node.name, node.name, m, True
        elif not m.name.startswith("_"):
            yield f"{node.name}.{m.name}", m.name, m, not static


def _public_options() -> dict[tuple[str, str], tuple[str, str, int | None]]:
    """``(qualname, option)`` → (defining file, name its calls use, position)
    for every optional parameter of a public function, of a public method
    of a public class, and of a public class's ``__init__``."""
    opts = {}
    for path in sorted((ROOT / "readur_spark").rglob("*.py")):
        where = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (*_DEFS, ast.ClassDef)) or node.name.startswith("_"):
                continue
            for qual, callee, fn, bound in _members(node):
                for name, i in _optional_params(fn, bound):
                    opts[(qual, name)] = (where, callee, i)
    return opts


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _passed_options():
    """Per called name, the keywords non-test calls pass and the most
    positional arguments they pass; and the names some non-test call
    spreads ``*args`` into.

    A def that spreads its own ``**kwargs`` into a call of ``g`` forwards
    to ``g`` the keywords its callers pass that are not its own named
    parameters; forwards are resolved until nothing changes. A ``**``
    spread passes nothing by itself."""
    keywords = defaultdict(set)
    positional = defaultdict(int)
    star = set()
    forwards = defaultdict(set)  # forwarding def name -> callees
    named = defaultdict(set)  # forwarding def name -> its named parameters
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, _DEFS) or fn.args.kwarg is None:
                continue
            kw = fn.args.kwarg.arg
            callees = {
                _call_name(node)
                for node in ast.walk(fn)
                if isinstance(node, ast.Call)
                and any(
                    k.arg is None and isinstance(k.value, ast.Name) and k.value.id == kw
                    for k in node.keywords
                )
            } - {None}
            if callees:
                a = fn.args
                forwards[fn.name] |= callees
                named[fn.name] |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node)
            if name is None:
                continue
            plain = [a for a in node.args if not isinstance(a, ast.Starred)]
            if len(plain) < len(node.args):
                star.add(name)
            positional[name] = max(positional[name], len(plain))
            keywords[name] |= {k.arg for k in node.keywords if k.arg is not None}
    changed = True
    while changed:
        changed = False
        for f, callees in forwards.items():
            extra = keywords[f] - named[f]
            for g in callees:
                if not extra <= keywords[g]:
                    keywords[g] |= extra
                    changed = True
    return keywords, positional, star


def _unpassed_options() -> dict[tuple[str, str], str]:
    keywords, positional, star = _passed_options()
    return {
        key: where
        for key, (where, callee, i) in _public_options().items()
        if not (
            key[1] in keywords[callee]
            or (i is not None and (i < positional[callee] or callee in star))
        )
    }


def test_every_option_is_passed_by_some_call():
    unpassed = {
        f"{qual}({name}=)": where
        for (qual, name), where in _unpassed_options().items()
        if (qual, name) not in ALLOWED_OPTIONS
    }
    assert unpassed == {}, (
        "optional parameters no non-test call passes: make each its default's "
        "constant (or derive it from the input), give it a caller, or "
        f"allowlist it with its reason: {unpassed}"
    )


def test_option_allowlist_is_current():
    """Each allowlisted option still exists and still has no caller."""
    opts = _public_options()
    unpassed = _unpassed_options()
    assert sorted(k for k in ALLOWED_OPTIONS if k not in opts) == []
    assert sorted(k for k in ALLOWED_OPTIONS if k not in unpassed) == []
