import os
import sys

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(PERFBENCH))  # the program and its tests/
sys.path.insert(0, PERFBENCH)
