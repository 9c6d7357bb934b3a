"""Source-code-like file bodies for the landed workloads.

One vocabulary of code lines serves both generators: Spark SQL renders it
for the KB-sized landed rows (too many bytes to build in Python), Python
renders it for the small pgoutput rows. Repeated line shapes with varying
identifiers and numbers give zstd a compression ratio close to real code,
unlike a padded constant."""

from __future__ import annotations

import random

#: code lines; ``{name}`` and ``{num}`` are filled per line
LINES = [
    "def {name}(self, value):",
    "    return self.{name} + {num}",
    "import {name}",
    "from .{name} import {name}_helper",
    "class {name}(Base):",
    "    if {name} is None:",
    "        raise ValueError(\"bad {name}: {num}\")",
    "    for i in range({num}):",
    "        total += {name}[i]",
    "# TODO({name}): handle the {num} case",
    "    {name} = {name}.strip()",
    "    log.debug(\"{name}=%s\", {name})",
    "    assert len({name}) < {num}",
    "    yield {name}, {num}",
    "    with open({name}) as fh:",
    "        data = fh.read({num})",
    "@pytest.mark.parametrize(\"{name}\", [{num}])",
    "    self.{name} = {name} or {num}",
    "    except KeyError as {name}:",
    "    return {{\"{name}\": {num}}}",
    "",
    "    pass",
    "    else:",
    "    try:",
]

NAMES = [
    "buffer", "cursor", "offset", "record", "schema", "table", "bucket",
    "manifest", "reader", "writer", "event", "batch", "config", "session",
    "partition", "state", "value", "key", "path", "content", "commit",
    "version", "delta", "snapshot", "source", "target", "result", "merge",
    "parse_row", "load_table", "apply_change", "flush", "retry_count",
    "max_size", "min_size", "checkpoint", "handler", "registry", "tokens",
    "digest", "payload", "header", "footer", "column", "index", "counter",
    "timeout", "deadline", "parser", "encoder", "decoder", "stream", "queue",
    "worker", "pool", "lock", "cache", "entry", "node", "edge", "graph",
    "matrix", "vector", "scalar",
]


def java_format(line: str) -> str:
    """A LINES entry as a ``format_string`` pattern (%1$s name, %2$d num)."""
    return (line.replace("%", "%%").replace("{{", "{").replace("}}", "}")
            .replace("{name}", "%1$s").replace("{num}", "%2$d"))


def sql_body(id_expr: str, seed: int, min_lines: int, max_lines: int) -> str:
    """Spark SQL expression for a body of ``min_lines..max_lines`` lines,
    deterministic in (seed, id)."""
    lines = ", ".join("'" + java_format(s).replace("\\", "\\\\")
                      .replace("'", "\\'") + "'" for s in LINES)
    names = ", ".join(f"'{n}'" for n in NAMES)
    n_lines = (f"{min_lines} + CAST(pmod(xxhash64({seed}, {id_expr}, -1), "
               f"{max_lines - min_lines + 1}) AS INT)")
    return (
        f"concat_ws(chr(10), transform(sequence(1, {n_lines}), i -> "
        f"format_string(element_at(array({lines}), "
        f"CAST(pmod(xxhash64({seed}, {id_expr}, i), {len(LINES)}) AS INT) + 1), "
        f"element_at(array({names}), "
        f"CAST(pmod(xxhash64({seed + 1}, {id_expr}, i), {len(NAMES)}) AS INT) + 1), "
        f"CAST(pmod(xxhash64({seed + 2}, {id_expr}, i), 1000) AS INT))))"
    )


def py_body(rng: random.Random, n_lines: int) -> str:
    return "\n".join(
        rng.choice(LINES).format(name=rng.choice(NAMES),
                                 num=rng.randrange(1000))
        for _ in range(n_lines)
    )
