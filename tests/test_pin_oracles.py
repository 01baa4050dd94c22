"""tools/pin_oracles.py argv handling: re-pinning a gate subset keeps
only the other gates' pins, so a name that is not a pinned gate must be
rejected before any pin is dropped."""

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import pin_oracles  # noqa: E402


def test_known_gates_are_accepted():
    assert pin_oracles.requested_gates([]) == set()
    assert pin_oracles.requested_gates(["bpe_train", "check_index"]) == {
        "bpe_train", "check_index"
    }


def test_unknown_gate_names_are_listed_and_rejected():
    # "tool_bigrams" is a gate, but not a pinned one
    with pytest.raises(SystemExit) as e:
        pin_oracles.requested_gates(["bpe_train", "nosuch", "tool_bigrams"])
    msg = str(e.value.code)
    assert "nosuch" in msg and "tool_bigrams" in msg
    assert "not pinned gates: nosuch tool_bigrams" in msg


def test_cli_exits_nonzero_before_touching_pins():
    pins = ROOT / "lucene_solr_spark" / "oracle_pins.py"
    before = pins.read_bytes()
    r = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "pin_oracles.py"), "nosuch"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert "nosuch" in r.stderr
    assert pins.read_bytes() == before
