"""Entry points do what their flags say: every documented command parses,
and flags that combine are honoured together, never silently dropped."""

from candidategeneration_spark import cli


def test_build_resume_root_matches_plain_build(spark, tmp_path, capsys):
    """``--resume-root`` builds a checkpointed index whose store equals a
    plain ``--dbigram`` build's."""
    from candidategeneration_spark.sources.corpus import generate_corpus
    from candidategeneration_spark.sources.segmentstore import load_segments
    corpus = str(tmp_path / "corpus")
    generate_corpus(spark, 60, seed=3).write.parquet(corpus)
    stores = {}
    for name, extra in (("plain", []),
                        ("resumable", ["--resume-root",
                                       str(tmp_path / "ckpt")])):
        out = str(tmp_path / name)
        assert cli.main(["build", "--corpus", corpus, "--out", out,
                         "--dbigram", "3", "--buckets", "4"] + extra) == 0
        stores[name] = {
            r["term"]: (r["bucket"], bytes(r["did_blob"]),
                        bytes(r["score_blob"]), bytes(r["tf_blob"]))
            for r in load_segments(spark, out).collect()}
    assert stores["resumable"] == stores["plain"] and stores["plain"]
    assert (tmp_path / "ckpt" / "pairs.manifest.json").exists()
    # the store is written once: to --out, not also into the checkpoint
    assert not (tmp_path / "ckpt" / "segments").exists()


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
