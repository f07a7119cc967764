"""The benchmark's own tests: build, then run perfbench.SelfTest.

    python3 perfbench/test.py
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    return subprocess.run(["java"] + build.java_opts("1g") +
                          ["-cp", build.classpath(), "perfbench.SelfTest"],
                          cwd=build.ROOT).returncode


if __name__ == "__main__":
    sys.exit(main())
