"""Entry points do what their flags say: a flag combination the build
cannot honour is an argparse error, never a silently dropped flag."""

import pytest

from candidategeneration_spark import cli


def test_build_rejects_resume_root_with_hot_df(capsys, tmp_path):
    with pytest.raises(SystemExit) as exc:
        cli.main(["build", "--corpus", str(tmp_path / "c"),
                  "--out", str(tmp_path / "o"), "--dbigram", "5",
                  "--hot-df", "1000000",
                  "--resume-root", str(tmp_path / "ckpt")])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "--resume-root" in err and "--hot-df" in err
    # rejected at parse time: nothing was built or checkpointed
    assert not (tmp_path / "ckpt").exists()


def test_documented_build_commands_parse(monkeypatch):
    """Every build command the README and module docstring show must be
    accepted by the parser."""
    import os
    import re
    import shlex
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "README.md")).read() + cli.__doc__
    cmds = re.findall(r"\.\.\. (build (?:[^\n\\]|\\\n)*)", text)
    assert cmds
    parsed = []
    monkeypatch.setattr(cli, "cmd_build", lambda args: parsed.append(args))
    for cmd in cmds:
        cli.main(shlex.split(cmd.replace("\\\n", " "), comments=True))
    assert len(parsed) == len(cmds)
