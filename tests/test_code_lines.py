"""``tools/code_lines.py``: the code-line count the ROADMAP's package line
count is measured in, over files and directories."""

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "code_lines.py")
_spec = importlib.util.spec_from_file_location("code_lines", _PATH)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

_SOURCE = '''"""Module docstring,
two lines."""

import os  # a comment


def f(x):
    """Docstring."""
    # only a comment
    return os.path.join(
        x, "y"
    )
'''


def test_code_lines_skips_docstrings_comments_and_blanks(tmp_path):
    path = tmp_path / "m.py"
    path.write_text(_SOURCE)
    # import, def, and the three lines the wrapped return spans
    assert code_lines.code_lines(str(path)) == 5


def test_code_lines_recurses_into_directories(tmp_path, capsys):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text(_SOURCE)
    (pkg / "sub" / "b.py").write_text("x = 1\ny = 2\n")
    (pkg / "notes.txt").write_text("x = 1\n")
    single = tmp_path / "c.py"
    single.write_text("z = 3\n")

    files = code_lines.python_files([str(pkg), str(single)])
    assert files == [str(pkg / "a.py"), str(pkg / "sub" / "b.py"), str(single)]

    code_lines.main([str(pkg), str(single)])
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split() for ln in lines] == [
        ["5", str(pkg / "a.py")],
        ["2", str(pkg / "sub" / "b.py")],
        ["1", str(single)],
        ["8", "total"],
    ]

    code_lines.main([str(pkg / "sub")])
    assert capsys.readouterr().out.split() == ["2", str(pkg / "sub" / "b.py")]
