#!/usr/bin/env python3
"""Checks the pinned workload membership in perfbench/workloads.json against
the query registry (graft.SparkEntry.queries), so that a new or renamed query
cannot silently change a workload.

    python3 perfbench/test_workloads.py

Builds the program first if the build is stale (see run.py).
"""
import copy
import json
import unittest

import run


class MembershipTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()
        cls.registry = run.registry_names()
        cls.spec = run.load_spec()

    def test_pinned_membership_matches_registry(self):
        self.assertEqual(run.membership_errors(self.spec, self.registry), [])

    def test_every_timed_set_is_nonempty_and_has_oracles(self):
        with open(f'{run.BUILD}/registry.json') as f:
            oracle = set(json.load(f)['oracle'])
        for name, w in self.spec['workloads'].items():
            self.assertTrue(w['timed'], name)
            self.assertEqual([q for q in w['timed'] if q not in oracle], [], name)

    def test_unknown_name_is_reported(self):
        spec = copy.deepcopy(self.spec)
        spec['workloads']['uts_analytics']['queries'].append('no_such_query')
        self.assertIn('uts_analytics: no_such_query is not in SparkEntry.queries',
                      run.membership_errors(spec, self.registry))

    def test_overlap_is_reported(self):
        spec = copy.deepcopy(self.spec)
        q = spec['workloads']['uts_analytics']['queries'][0]
        spec['workloads']['ingest_write']['queries'].append(q)
        self.assertIn(f'{q} is in both uts_analytics and ingest_write',
                      run.membership_errors(spec, self.registry))

    def test_query_in_no_workload_is_reported_unless_unassigned(self):
        spec = copy.deepcopy(self.spec)
        q = spec['workloads']['uts_analytics']['queries'].pop()
        spec['workloads']['uts_analytics']['timed'] = [
            t for t in spec['workloads']['uts_analytics']['timed'] if t != q]
        self.assertEqual(run.membership_errors(spec, self.registry),
                         [f'{q} is in no workload and not listed as unassigned'])
        spec['unassigned'].append(q)
        self.assertEqual(run.membership_errors(spec, self.registry), [])


if __name__ == '__main__':
    unittest.main()
