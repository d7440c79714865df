"""``tools/count_code_lines.py``: the code-line figures quoted for the
package and for single files."""

from __future__ import annotations

from tools.count_code_lines import main

SOURCE = '''"""Module docstring."""

# a comment
def f(x):
    """Function docstring."""
    return (x +
            1)
'''


def test_counts_a_single_file_and_a_directory(tmp_path, capsys):
    (tmp_path / "pkg").mkdir()
    one = tmp_path / "pkg" / "one.py"
    one.write_text(SOURCE)
    (tmp_path / "pkg" / "notes.txt").write_text("x = 1\n")

    assert main([str(one)]) == 0
    assert capsys.readouterr().out.split() == ["3", str(one), "3", "total"]

    assert main([str(tmp_path / "pkg")]) == 0
    assert capsys.readouterr().out.split() == ["3", str(one), "3", "total"]


def test_path_without_python_files_exits_with_usage(tmp_path, capsys):
    notes = tmp_path / "notes.txt"
    notes.write_text("x = 1\n")
    for argv in ([str(notes)], [str(tmp_path / "missing")], []):
        assert main(argv) == 2
        captured = capsys.readouterr()
        assert captured.out == "" and "Usage:" in captured.err
