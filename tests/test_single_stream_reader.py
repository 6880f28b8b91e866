"""streaming/microbatch.read_batches is the only file-stream reader.

Parses each module under ``counsel_data_pipeline_spark/`` with ``ast``
(nothing is imported or run) and fails on a ``readStream`` chain that
reads files anywhere else: one ending in ``parquet``/``json``/``csv``/
``text``/``orc``, or in ``load`` with such a format (or none, which means
the session's default file format). A custom source such as
``format("rangeparquet").load()`` is not a file stream and passes.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "counsel_data_pipeline_spark"
READER = pathlib.Path(PACKAGE, "streaming", "microbatch.py")
FILE_FORMATS = {"parquet", "json", "csv", "text", "orc"}


def _chain(node: ast.AST) -> list[tuple[str, ast.Call | None]]:
    """(attribute, its call or None) along a method chain, outermost first."""
    out = []
    while True:
        call = node if isinstance(node, ast.Call) else None
        if call is not None:
            node = call.func
        if not isinstance(node, ast.Attribute):
            return out
        out.append((node.attr, call))
        node = node.value


def _reads_files(chain: list[tuple[str, ast.Call | None]]) -> bool:
    names = [name for name, _ in chain]
    if "readStream" not in names:
        return False
    if names[0] in FILE_FORMATS:
        return True
    if names[0] != "load":
        return False
    fmts = [call.args[0] for name, call in chain if name == "format" and call and call.args]
    if not fmts:
        return True
    fmt = fmts[0]
    return not (isinstance(fmt, ast.Constant) and fmt.value not in FILE_FORMATS)


def _file_streams(source: str) -> list[int]:
    """Line of each call that opens a file stream."""
    tree = ast.parse(source)
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and _reads_files(_chain(node))
    )


def test_only_the_microbatch_reader_streams_files():
    found = []
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel == READER:
            continue
        found += [f"{rel}:{line}" for line in _file_streams(path.read_text(encoding="utf-8"))]
    assert not found, "file stream opened outside streaming/microbatch.read_batches:\n" + "\n".join(found)
    assert _file_streams((ROOT / READER).read_text(encoding="utf-8")), "read_batches no longer streams files"


def test_check_sees_file_streams_and_passes_custom_sources():
    source = (
        "a = spark.readStream.schema(s).option('k', 1).parquet(p).select('x')\n"
        "b = spark.readStream.json(p)\n"
        "c = spark.readStream.format('csv').load(p)\n"
        "d = spark.readStream.schema(s).load(p)\n"
        "e = spark.readStream.format(fmt).load(p)\n"
        "f = spark.readStream.format('rangeparquet').option('n', 4).load()\n"
        "g = spark.read.parquet(p)\n"
        "h = spark.readStream.schema(s)\n"
    )
    assert _file_streams(source) == [1, 2, 3, 4, 5]
