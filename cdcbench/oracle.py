"""Row-for-row comparison of the final table with the workload's oracle."""

from __future__ import annotations

Key = tuple[str, str]


def compare_states(actual: list[tuple[str, str, str]],
                   expected: dict[Key, str], limit: int = 5) -> dict:
    """``actual`` = (repo, path, sha) rows read from the table; ``expected``
    maps (repo, path) to the sha of the live row. Returns counts of
    duplicated, missing, unexpected and differing keys with a few
    examples; ``ok`` is true only when all four are zero."""
    seen: dict[Key, str] = {}
    dup = []
    for repo, path, sha in actual:
        k = (repo, path)
        if k in seen:
            dup.append(k)
        seen[k] = sha
    missing = [k for k in expected if k not in seen]
    unexpected = [k for k in seen if k not in expected]
    differing = [k for k, v in seen.items() if k in expected and expected[k] != v]
    out = {"rows": len(actual), "expected_rows": len(expected)}
    for name, keys in (("duplicated", dup), ("missing", missing),
                       ("unexpected", unexpected), ("differing", differing)):
        out[name] = len(keys)
        if keys:
            out[name + "_examples"] = [list(k) for k in keys[:limit]]
    out["ok"] = not (dup or missing or unexpected or differing)
    return out
