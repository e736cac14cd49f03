"""``tools/code_lines.py``: comments, docstrings and blank lines do not
count; every line a code token spans does."""

from __future__ import annotations

import textwrap

from tools.code_lines import code_lines

_SRC = textwrap.dedent(
    '''\
    """Module docstring,
    two lines."""

    # a comment
    import os  # trailing comment


    def f(x):
        """Function docstring."""
        s = """a multi-line
        string value"""
        return (
            x
            + 1
        )


    class C:
        "class docstring"
        "implicitly " "concatenated"
        y = f"{os.sep}"
    '''
)


def test_counts_code_tokens_only(tmp_path):
    p = tmp_path / "m.py"
    p.write_text(_SRC)
    # import, def, s = (2 lines), return ( .. ) (4 lines), class, y =
    assert code_lines(str(p)) == 10
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "a.py").write_text(_SRC)
    (tmp_path / "pkg" / "notes.txt").write_text("x = 1\n")
    assert code_lines(str(tmp_path)) == 20
