"""The PLANS.md rewrite behind scripts/explain_audit.py --write (no Spark
needed)."""

from tests.plans import write_plans


def test_write_plans_keeps_unchanged_section_verbatim(tmp_path):
    """A section whose plan differs only in run ids (expression ids, lambda
    variable numbers) is kept byte for byte, a bare carriage return inside
    it included; a changed section is rewritten."""
    path = tmp_path / "PLANS.md"
    old = ("# PLANS\n\n## Tokens\nregexp_extract_all(text#870, [^ \t\r\n]+)"
           " lambda x_31#871\n\n## Edges\nExchange hashpartitioning(k#1)\n")
    path.write_bytes(old.encode())
    write_plans(["# PLANS", "", "## Tokens",
                 "regexp_extract_all(text#12, [^ \t\r\n]+) lambda x_32#13", "",
                 "## Edges", "Exchange hashpartitioning(u#2)", ""], str(path))
    assert path.read_bytes() == old.replace("k#1", "u#2").encode()
