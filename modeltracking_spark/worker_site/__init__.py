"""The directory of the Python workers' start-up hook.

``session.ensure_pkg_on_workers`` puts :data:`SITE_DIR` first on the
workers' ``PYTHONPATH``; :mod:`site` then imports its
``sitecustomize.py`` as every worker interpreter starts.
"""

import os

SITE_DIR = os.path.dirname(os.path.abspath(__file__))
