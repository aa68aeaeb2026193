"""Self-tests of the benchmark: ``python3 -m pytest perfbench/tests -q``
from the root of a checkout. None of them starts Spark."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the checkout root
