"""Machine-checkable GSW ufunc coverage ledger.

The reference vendors GSW-Python 3.3.1 (158 wrapped ufuncs in
``gsw/_wrapped_ufuncs.py``) as its oceanographic capability surface.
This module maps EVERY one of the 158 ufunc names to the registered or
staged oracle-paired query that exercises it (one query often covers a
tuple of ufuncs: the reference groups e.g. rho/alpha/beta into one C
call), or to an explicit scope declaration:

- ``("covered", "<query>")``      — a live-registry or staged-slate
  query computes this surface and hash-matches its DuckDB oracle.
- ``("baseline", "<query>", why)`` — covered at GSW's own documented
  fallback semantics (atlas-free SAAR=0, HS84 evaporation) with the
  deviation documented at the call site.
- ``("out_of_scope", why)``       — COVERAGE.md-declared exclusions
  (the SAAR/deltaSA binary atlas is a data artifact, not a formula).
- ``("planned", "<note>")``       — on the staged-r15 runway.

tests/test_gsw_ledger.py validates that every referenced query name
exists (live registry or a staged slate) and that no ufunc is missing
from this table; running this file prints the counts.

    python tools/gsw_ufunc_ledger.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ATLAS = (
    "SAAR/deltaSA interpolate GSW's ~3 MB binary gridded atlas — a "
    "data artifact, not a formula (COVERAGE.md 'Declared out of scope')"
)
_EVAP = (
    "SA-dependent term is a fitted table; latentheat_evap_hs84 ships "
    "the published Henderson-Sellers 1984 pure-water fit (~0.1% SA "
    "effect documented at the call site)"
)

#: ufunc -> scope tuple. Keep sorted by ufunc name.
LEDGER: dict[str, tuple] = {
    "CT_first_derivatives": ("covered", "gsw_ct_first_derivatives"),
    "CT_first_derivatives_wrt_t_exact": ("covered", "gsw_ct_first_derivatives_wrt_t_exact"),
    "CT_freezing": ("covered", "gsw_ct_freezing"),
    "CT_freezing_first_derivatives": ("covered", "gsw_ct_freezing_first_derivatives"),
    "CT_freezing_first_derivatives_poly": ("covered", "gsw_ct_freezing_derivs_poly"),
    "CT_freezing_poly": ("covered", "gsw_ct_freezing_poly"),
    "CT_from_enthalpy": ("covered", "gsw_ct_from_enthalpy"),
    "CT_from_enthalpy_exact": ("covered", "gsw_ct_from_enthalpy_exact"),
    "CT_from_entropy": ("covered", "gsw_pt_from_entropy"),
    "CT_from_pt": ("covered", "gsw_ct_entropy_from_pt"),
    "CT_from_rho": ("covered", "gsw_ct_from_rho"),
    "CT_from_t": ("covered", "gsw_ct_from_t"),
    "CT_maxdensity": ("covered", "gsw_ct_maxdensity"),
    "CT_second_derivatives": ("covered", "gsw_ct_second_derivatives"),
    "C_from_SP": ("covered", "gsw_c_from_sp"),
    "Fdelta": ("out_of_scope", "Fdelta = (1 + r1)*SAAR in the atlas path; " + _ATLAS),
    "Helmholtz_energy_ice": ("covered", "gsw_helmholtz_energy_ice"),
    "Hill_ratio_at_SP2": ("covered", "gsw_hill_ratio_at_sp2"),
    "O2sol": ("covered", "gsw_o2sol"),
    "O2sol_SP_pt": ("covered", "gsw_o2sol_sp_pt"),
    "SAAR": ("out_of_scope", _ATLAS),
    "SA_freezing_from_CT": ("covered", "gsw_sa_freezing_from_ct"),
    "SA_freezing_from_CT_poly": ("covered", "gsw_sa_freezing_from_ct_poly"),
    "SA_freezing_from_t": ("covered", "gsw_sa_freezing_from_t"),
    "SA_freezing_from_t_poly": ("covered", "gsw_sa_freezing_from_t_poly"),
    "SA_from_SP": ("baseline", "gsw_sa_from_sp", "atlas-free SAAR=0 semantics (GSW's own atlas-absent fallback)"),
    "SA_from_SP_Baltic": ("covered", "gsw_sa_from_sp_baltic"),
    "SA_from_Sstar": ("baseline", "gsw_salinity_star_baseline", "atlas-free: Sstar = SA"),
    "SA_from_rho": ("covered", "gsw_sa_from_rho"),
    "SP_from_C": ("covered", "gsw_sp_from_c"),
    "SP_from_SA": ("baseline", "gsw_salinity_star_baseline", "atlas-free: SP = SA/uPS"),
    "SP_from_SA_Baltic": ("covered", "gsw_sp_from_sa_baltic"),
    "SP_from_SK": ("covered", "gsw_salinity_scale_conversions"),
    "SP_from_SR": ("covered", "gsw_salinity_scale_roundtrips"),
    "SP_from_Sstar": ("baseline", "gsw_salinity_star_baseline", "atlas-free: SP = Sstar/uPS"),
    "SP_salinometer": ("covered", "gsw_sp_salinometer"),
    "SR_from_SP": ("covered", "gsw_salinity_scale_conversions"),
    "Sstar_from_SA": ("baseline", "gsw_salinity_star_baseline", "atlas-free: Sstar = SA"),
    "Sstar_from_SP": ("baseline", "gsw_salinity_star_baseline", "atlas-free: Sstar = uPS*SP"),
    "adiabatic_lapse_rate_from_CT": ("covered", "gsw_adiabatic_lapse_rate_from_ct"),
    "adiabatic_lapse_rate_ice": ("covered", "gsw_adiabatic_lapse_rate_ice"),
    "alpha": ("covered", "gsw_alpha_beta_75term"),
    "alpha_on_beta": ("covered", "gsw_alpha_beta_75term"),
    "alpha_wrt_t_exact": ("covered", "gsw_alpha_beta_t_exact"),
    "alpha_wrt_t_ice": ("covered", "gsw_ice_expansion_coefficients"),
    "beta": ("covered", "gsw_alpha_beta_75term"),
    "beta_const_t_exact": ("covered", "gsw_alpha_beta_t_exact"),
    "cabbeling": ("covered", "gsw_cabbeling"),
    "chem_potential_water_ice": ("covered", "gsw_chem_potential_water_ice"),
    "chem_potential_water_t_exact": ("covered", "gsw_chem_potential_dilution_t_exact"),
    "cp_ice": ("covered", "gsw_cp_ice"),
    "cp_t_exact": ("covered", "gsw_cp_t_exact"),
    "deltaSA_atlas": ("out_of_scope", _ATLAS),
    "deltaSA_from_SP": ("out_of_scope", _ATLAS),
    "dilution_coefficient_t_exact": ("covered", "gsw_chem_potential_dilution_t_exact"),
    "dynamic_enthalpy": ("covered", "gsw_dynamic_enthalpy"),
    "enthalpy": ("covered", "gsw_enthalpy"),
    "enthalpy_CT_exact": ("covered", "gsw_enthalpy_ct_exact"),
    "enthalpy_diff": ("covered", "gsw_enthalpy_diff"),
    "enthalpy_first_derivatives": ("covered", "gsw_enthalpy_first_derivatives"),
    "enthalpy_first_derivatives_CT_exact": ("covered", "gsw_enthalpy_first_derivatives_ct_exact"),
    "enthalpy_ice": ("covered", "gsw_enthalpy_ice"),
    "enthalpy_second_derivatives": ("covered", "gsw_enthalpy_second_derivatives"),
    "enthalpy_second_derivatives_CT_exact": ("covered", "gsw_enthalpy_second_derivatives_ct_exact"),
    "enthalpy_t_exact": ("covered", "gsw_enthalpy_t_exact"),
    "entropy_first_derivatives": ("covered", "gsw_entropy_first_derivatives"),
    "entropy_from_CT": ("covered", "gsw_entropy_from_ct"),
    "entropy_from_pt": ("covered", "gsw_ct_entropy_from_pt"),
    "entropy_from_t": ("covered", "gsw_entropy_from_t"),
    "entropy_ice": ("covered", "gsw_entropy_ice"),
    "entropy_second_derivatives": ("covered", "gsw_entropy_second_derivatives"),
    "frazil_properties": ("covered", "gsw_frazil_properties"),
    "frazil_properties_potential": ("covered", "gsw_frazil_properties_potential"),
    "frazil_properties_potential_poly": ("covered", "gsw_frazil_properties_potential_poly"),
    "frazil_ratios_adiabatic": ("covered", "gsw_frazil_ratios_adiabatic_exact"),
    "frazil_ratios_adiabatic_poly": ("covered", "gsw_frazil_ratios_adiabatic"),
    "gibbs_ice_part_t": ("covered", "gsw_gibbs_ice_parts"),
    "gibbs_ice_pt0": ("covered", "gsw_gibbs_ice_parts"),
    "gibbs_ice_pt0_pt0": ("covered", "gsw_gibbs_ice_parts"),
    "grav": ("covered", "gsw_gravity"),
    "ice_fraction_to_freeze_seawater": ("covered", "gsw_ice_fraction_to_freeze_seawater"),
    "internal_energy": ("covered", "gsw_internal_energy"),
    "internal_energy_ice": ("covered", "gsw_internal_energy_ice"),
    "kappa": ("covered", "gsw_kappa"),
    "kappa_const_t_ice": ("covered", "gsw_kappa_const_t_ice"),
    "kappa_ice": ("covered", "gsw_kappa_ice"),
    "kappa_t_exact": ("covered", "gsw_kappa_t_exact"),
    "latentheat_evap_CT": ("baseline", "latentheat_evap_hs84", _EVAP),
    "latentheat_evap_t": ("baseline", "latentheat_evap_hs84", _EVAP),
    "latentheat_melting": ("covered", "gsw_latentheat_melting"),
    "melting_ice_SA_CT_ratio": ("covered", "gsw_melting_ice_sa_ct_ratio_exact"),
    "melting_ice_SA_CT_ratio_poly": ("covered", "gsw_melting_ice_sa_ct_ratio"),
    "melting_ice_equilibrium_SA_CT_ratio": ("covered", "gsw_melting_equilibrium_ratios_exact"),
    "melting_ice_equilibrium_SA_CT_ratio_poly": ("covered", "gsw_melting_ice_equilibrium_ratio"),
    "melting_ice_into_seawater": ("covered", "gsw_melting_ice_into_seawater"),
    "melting_seaice_SA_CT_ratio": ("covered", "gsw_melting_seaice_sa_ct_ratio_exact"),
    "melting_seaice_SA_CT_ratio_poly": ("covered", "gsw_melting_seaice_sa_ct_ratio"),
    "melting_seaice_equilibrium_SA_CT_ratio": ("covered", "gsw_melting_equilibrium_ratios_exact"),
    "melting_seaice_equilibrium_SA_CT_ratio_poly": ("covered", "gsw_melting_ice_equilibrium_ratio"),
    "melting_seaice_into_seawater": ("covered", "gsw_melting_seaice_into_seawater"),
    "p_from_z": ("covered", "gsw_p_from_z"),
    "pot_enthalpy_from_pt_ice": ("covered", "gsw_pot_enthalpy_from_pt_ice"),
    "pot_enthalpy_from_pt_ice_poly": ("covered", "gsw_pot_enthalpy_ice_poly_pair"),
    "pot_enthalpy_ice_freezing": ("covered", "gsw_pot_enthalpy_ice_freezing"),
    "pot_enthalpy_ice_freezing_first_derivatives": ("covered", "gsw_pot_enthalpy_ice_freezing_derivs"),
    "pot_enthalpy_ice_freezing_first_derivatives_poly": ("covered", "gsw_pot_enthalpy_ice_freezing_poly"),
    "pot_enthalpy_ice_freezing_poly": ("covered", "gsw_pot_enthalpy_ice_freezing_poly"),
    "pot_rho_t_exact": ("covered", "gsw_pot_rho_t_exact"),
    "pressure_coefficient_ice": ("covered", "gsw_ice_expansion_coefficients"),
    "pressure_freezing_CT": ("covered", "gsw_pressure_freezing_ct"),
    "pt0_from_t": ("covered", "gsw_potential_temperature"),
    "pt0_from_t_ice": ("covered", "gsw_pt0_from_t_ice"),
    "pt_first_derivatives": ("covered", "gsw_pt_first_derivatives"),
    "pt_from_CT": ("covered", "gsw_pt_from_ct"),
    "pt_from_entropy": ("covered", "gsw_pt_from_entropy"),
    "pt_from_pot_enthalpy_ice": ("covered", "gsw_pt_from_pot_enthalpy_ice"),
    "pt_from_pot_enthalpy_ice_poly": ("covered", "gsw_pot_enthalpy_ice_poly_pair"),
    "pt_from_t": ("covered", "gsw_pt_from_t_refp"),
    "pt_from_t_ice": ("covered", "gsw_pt_from_t_ice"),
    "pt_second_derivatives": ("covered", "gsw_pt_second_derivatives"),
    "rho": ("covered", "gsw_rho_ct_native"),
    "rho_alpha_beta": ("covered", "gsw_rho_specvol_alpha_beta"),
    "rho_first_derivatives": ("covered", "gsw_rho_first_derivatives"),
    "rho_first_derivatives_wrt_enthalpy": ("covered", "gsw_rho_first_derivatives_wrt_enthalpy"),
    "rho_ice": ("covered", "gsw_rho_ice"),
    "rho_second_derivatives": ("covered", "gsw_rho_second_derivatives"),
    "rho_second_derivatives_wrt_enthalpy": ("covered", "gsw_rho_second_derivatives_wrt_enthalpy"),
    "rho_t_exact": ("covered", "gsw_specvol_rho_t_exact"),
    "seaice_fraction_to_freeze_seawater": ("covered", "gsw_seaice_fraction_to_freeze_seawater"),
    "sigma0": ("covered", "gsw_rho_sigma0"),
    "sigma1": ("covered", "gsw_sigma1_sigma2"),
    "sigma2": ("covered", "gsw_sigma1_sigma2"),
    "sigma3": ("covered", "gsw_sigma3_sigma4"),
    "sigma4": ("covered", "gsw_sigma3_sigma4"),
    "sound_speed": ("covered", "gsw_sound_speed_ct_native"),
    "sound_speed_ice": ("covered", "gsw_sound_speed_ice"),
    "sound_speed_t_exact": ("covered", "gsw_sound_speed_t_exact"),
    "specvol": ("covered", "gsw_rho_specvol_alpha_beta"),
    "specvol_alpha_beta": ("covered", "gsw_rho_specvol_alpha_beta"),
    "specvol_anom_standard": ("covered", "gsw_specvol_anom"),
    "specvol_first_derivatives": ("covered", "gsw_specvol_first_derivatives"),
    "specvol_first_derivatives_wrt_enthalpy": ("covered", "gsw_specvol_first_derivatives_wrt_enthalpy"),
    "specvol_ice": ("covered", "gsw_specvol_ice"),
    "specvol_second_derivatives": ("covered", "gsw_specvol_second_derivatives"),
    "specvol_second_derivatives_wrt_enthalpy": ("covered", "gsw_specvol_second_derivatives_wrt_enthalpy"),
    "specvol_t_exact": ("covered", "gsw_specvol_rho_t_exact"),
    "spiciness0": ("covered", "gsw_spiciness0"),
    "spiciness1": ("covered", "gsw_spiciness1_2"),
    "spiciness2": ("covered", "gsw_spiciness1_2"),
    "t_deriv_chem_potential_water_t_exact": ("covered", "gsw_chem_potential_t_derivative"),
    "t_freezing": ("covered", "gsw_freezing_point"),
    "t_freezing_first_derivatives": ("covered", "gsw_t_freezing_derivatives"),
    "t_freezing_first_derivatives_poly": ("covered", "gsw_t_freezing_first_derivatives_poly"),
    "t_freezing_poly": ("covered", "gsw_t_freezing_poly"),
    "t_from_CT": ("covered", "gsw_t_from_ct"),
    "t_from_pt0_ice": ("covered", "gsw_t_from_pt0_ice"),
    "thermobaric": ("covered", "gsw_thermobaric"),
    "z_from_p": ("covered", "gsw_z_from_p"),
}


def all_known_query_names() -> set[str]:
    """Live registry + the parked slates' local registries."""
    from cioos_siooc_data_transform_spark.plans import (
        all_queries,
        staged_r14,
        staged_r15,
    )

    return set(all_queries()) | set(staged_r14.STAGED_QUERIES) | set(
        staged_r15.STAGED_QUERIES
    )


def counts() -> dict[str, int]:
    c: dict[str, int] = {}
    for entry in LEDGER.values():
        c[entry[0]] = c.get(entry[0], 0) + 1
    return c


def main() -> int:
    names = all_known_query_names()
    missing = {
        u: e[1]
        for u, e in LEDGER.items()
        if e[0] in ("covered", "baseline") and e[1] not in names
    }
    c = counts()
    print(f"GSW ufuncs: {len(LEDGER)} total")
    for k in ("covered", "baseline", "planned", "out_of_scope"):
        print(f"  {k}: {c.get(k, 0)}")
    print(f"  covered+baseline: {c.get('covered', 0) + c.get('baseline', 0)}")
    if missing:
        print("MISSING query names:", missing)
        return 1
    planned = [u for u, e in LEDGER.items() if e[0] == "planned"]
    print("planned:", ", ".join(planned))
    return 0


if __name__ == "__main__":
    sys.exit(main())
