"""Kill-anywhere resume gate: one seed of tools/fuzz_crash_resume.py.

The sweep SIGKILLs the real CLI at random moments inside the length of
an uninterrupted build, resumes it, and compares the store's tiles with
that build; the seed must resume from at least one crash. One seed at
maxzoom 2 takes about 80 s on 4 cores; run `--seeds 4` by hand before
changing the resume loop (`io.run_pyramid_with_checkpoint`).
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_crash_resume_sweep_one_seed():
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "fuzz_crash_resume.py"),
         "--seeds", "1", "--maxzoom", "2"],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert "crash/resume sweep: 1/1 clean" in p.stdout, p.stdout
    kills = int(p.stdout.split(" kills=")[1].split(":")[0])
    assert kills >= 1, p.stdout
