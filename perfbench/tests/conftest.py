"""The benchmark's modules live next to ``run.py`` and import each other as
top-level modules, the way ``python3 perfbench/run.py`` loads them."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
