"""Docs must not outlive the files they name: every repo path in README's
Layout and Run blocks and in the verify skill's commands must exist."""

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
# a relative ``*.py`` file or ``dir/`` standing as its own token
PATH_TOKEN = re.compile(r"(?<!\S)((?:[\w.-]+/)*[\w-]+\.py|(?:[\w-]+/)+)(?!\S)")


def _block_after(text, heading):
    """The first fenced code block after ``heading``."""
    return text.split(heading, 1)[1].split("```", 2)[1]


def _layout_paths(block):
    """Tree entries (``name.py`` or ``dir/`` leading a line), joined to the
    directories they are indented under."""
    stack = []
    for line in block.splitlines():
        m = re.match(r"( *)((?:[\w-]+/)*[\w-]+(?:\.py|/))(?:\s|$)", line)
        if not m:
            continue
        indent, name = len(m.group(1)), m.group(2)
        while stack and stack[-1][0] >= indent:
            stack.pop()
        yield "".join(d for _, d in stack) + name
        if name.endswith("/"):
            stack.append((indent, name))


def _command_paths(commands):
    for line in commands.splitlines():
        yield from PATH_TOKEN.findall(line.split("#", 1)[0])


def test_documented_paths_exist():
    readme = (REPO / "README.md").read_text()
    skill = (REPO / ".claude/skills/verify/SKILL.md").read_text()
    skill_cmds = "\n".join(
        re.findall(r"```bash\n(.*?)```", skill, re.S)
        + re.findall(r"`(python3? [^`]+)`", skill)
    )
    paths = {
        *_layout_paths(_block_after(readme, "## Layout")),
        *_command_paths(_block_after(readme, "## Run")),
        *_command_paths(skill_cmds),
    }
    # the parsers must actually see the docs, not pass on an empty set
    assert {"job.py", "pdf_extraction_spark/kernels/dispatch.py", "tests/"} <= paths
    assert [p for p in sorted(paths) if not (REPO / p).exists()] == []
