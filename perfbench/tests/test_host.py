import os
import subprocess
import sys
import textwrap

import host

HERE = os.path.dirname(host.__file__)


def test_reap_descendants_waits_for_orphans():
    # a shell starts a sleeper and exits at once, so the sleeper is
    # orphaned; after reap_descendants() nothing is left below the process
    script = textwrap.dedent("""
        import os, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        import host
        host.adopt_orphans()
        subprocess.run(["sh", "-c", "sleep 60 &"], check=True, stdout=subprocess.DEVNULL)
        left = host._descendants(host._proc_table(), os.getpid())
        assert left, "the orphaned sleeper should have been adopted"
        host.reap_descendants(grace_s=2.0)
        assert not host._descendants(host._proc_table(), os.getpid())
        print("ok")
    """)
    out = subprocess.run([sys.executable, "-c", script, HERE], capture_output=True, text=True,
                         timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_fingerprint_leaves_no_process():
    fp = host.fingerprint(2)
    assert fp["cores"] == 2 and fp["cpu_1core_median"] > 0
    assert not [p for p in host._descendants(host._proc_table(), os.getpid())
                if host._proc_table().get(p, (0, "Z"))[1] != "Z"]
